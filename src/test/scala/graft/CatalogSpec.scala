package graft

import graft.sources.catalog.GraftCatalog
import org.apache.spark.sql.functions._

/** The V2 TableCatalog: namespace/table discovery over the corpus directory,
  * native scan machinery through the catalog route, and read-only DDL.
  */
class CatalogSpec extends SparkSpec {

  private def mount(): Unit = {
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.root", "/root/testdata")
  }

  test("namespaces are the scale-factor directories; tables are the parquet files") {
    mount()
    // SHOW NAMESPACES backtick-quotes names containing dots
    val ns = spark.sql("SHOW NAMESPACES IN graft_cat").collect()
      .map(_.getString(0).stripPrefix("`").stripSuffix("`")).toSet
    assert(ns.contains("sf0.001") && ns.contains("sf0.01"), ns)
    val tables = spark.sql("SHOW TABLES IN graft_cat.`sf0.001`")
      .collect().map(_.getString(1)).toSet
    assert(Set("lineitem", "orders", "customer", "documents", "embeddings").subsetOf(tables), tables)
  }

  test("read-only catalog mounts an explicit file:// URI root (Hadoop FS port)") {
    // the corpus catalog resolves its FileSystem from the root's scheme
    // (the reference's mount contract) — a file:// URI must behave exactly
    // like the bare path: namespaces list, tables resolve, scans run
    spark.conf.set("spark.sql.catalog.graft_cat_uri", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat_uri.root", "file:///root/testdata")
    try {
      val ns = spark.sql("SHOW NAMESPACES IN graft_cat_uri").collect()
        .map(_.getString(0).stripPrefix("`").stripSuffix("`")).toSet
      assert(ns.contains("sf0.001"), ns)
      val n = spark.sql("SELECT count(*) AS n FROM graft_cat_uri.`sf0.001`.orders")
        .collect()(0).getLong(0)
      assert(n > 0)
      // matches the bare-path mount row for row
      mount()
      val nPlain = spark.sql("SELECT count(*) AS n FROM graft_cat.`sf0.001`.orders")
        .collect()(0).getLong(0)
      assert(n === nPlain)
      intercept[UnsupportedOperationException] {
        spark.sql("DROP TABLE graft_cat_uri.`sf0.001`.orders")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_cat_uri")
      spark.conf.unset("spark.sql.catalog.graft_cat_uri.root")
    }
  }

  test("catalog scans keep the native parquet read stack: pushdown + pruning") {
    mount()
    val df = spark.sql(
      "SELECT o_orderkey FROM graft_cat.`sf0.001`.orders WHERE o_orderkey = 42")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("o_orderkey"), p)
    assert(df.count() <= 1)
    // pruning: only the requested column reaches ReadSchema
    assert(!p.contains("o_totalprice"), p)
  }

  test("three-part-name joins resolve and match path-based reads") {
    mount()
    val viaCatalog = spark.sql(
      """SELECT count(*) AS n FROM graft_cat.`sf0.001`.orders o
        |JOIN graft_cat.`sf0.001`.customer c ON o.o_custkey = c.c_custkey""".stripMargin)
      .collect()(0).getLong(0)
    val viaPath = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .join(spark.read.parquet("/root/testdata/sf0.001/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .count()
    assert(viaCatalog === viaPath && viaCatalog > 0)
  }

  test("DDL against the corpus catalog is refused (read-only contract)") {
    mount()
    val e = intercept[Exception] {
      spark.sql("DROP TABLE graft_cat.`sf0.001`.orders")
    }
    assert(e.getMessage.toLowerCase.contains("read-only"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graft_cat.`sf0.001`.scratch (x INT)")
    }
    assert(e2.getMessage.toLowerCase.contains("read-only"), e2.getMessage)
  }

  // ---- writable staging catalog -----------------------------------------

  private lazy val stageRoot =
    java.nio.file.Files.createTempDirectory("graft_stagecat_spec_").toString

  private def mountStage(): Unit = {
    spark.conf.set("spark.sql.catalog.stage_t",
      classOf[graft.sources.catalog.GraftStagingCatalog].getName)
    spark.conf.set("spark.sql.catalog.stage_t.root", stageRoot)
  }

  /** A table's declared sort order and provenance marker as text: the
    * order's columns, one per line, then `#unsorted@<since>` and the
    * marked files — read through the table record.
    */
  private def sortOrderText(tableDir: String): String = {
    val d = new org.apache.hadoop.fs.Path(tableDir)
    val m = graft.sources.catalog.TableMeta.read(
      d.getFileSystem(spark.sessionState.newHadoopConf()), d)
    (m.sortOrder ++ m.sortUnproven.toSeq.flatMap { case (since, files) =>
      s"#unsorted@$since" +: files.toSeq.sorted
    }).mkString("\n")
  }

  /** Messages of the whole cause chain — Spark wraps task failures. */
  private def exMessages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .flatMap(t => Option(t.getMessage)).toSeq

  test("staging catalog: CTAS + INSERT INTO + read-back are lossless") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.cust")
    spark.read.parquet(s"$sfDir/customer.parquet").createOrReplaceTempView("cust_src")
    spark.sql(
      "CREATE TABLE stage_t.ws.cust AS SELECT c_custkey, c_mktsegment FROM cust_src WHERE c_custkey % 2 = 0")
    spark.sql(
      "INSERT INTO stage_t.ws.cust SELECT c_custkey, c_mktsegment FROM cust_src WHERE c_custkey % 2 = 1")
    val n = spark.sql("SELECT count(*) FROM stage_t.ws.cust").collect()(0).getLong(0)
    val expected = spark.read.parquet(s"$sfDir/customer.parquet").count()
    assert(n === expected && n > 0)
    // read-back keeps the native parquet stack: pushdown reaches the scan
    val p = spark.sql("SELECT c_custkey FROM stage_t.ws.cust WHERE c_custkey = 2")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("c_custkey"), p)
  }

  test("staging catalog: empty CREATE TABLE declares schema via sidecar; DROP removes it") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.empty_t")
    spark.sql("CREATE TABLE stage_t.ws.empty_t (k BIGINT, v STRING)")
    // no parquet footers exist yet — schema must come from the sidecar
    val df = spark.sql("SELECT k, v FROM stage_t.ws.empty_t")
    assert(df.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(df.count() === 0)
    spark.sql("INSERT INTO stage_t.ws.empty_t VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT sum(k) FROM stage_t.ws.empty_t").collect()(0).getLong(0) === 3)
    spark.sql("DROP TABLE stage_t.ws.empty_t")
    val e = intercept[Exception] { spark.sql("SELECT * FROM stage_t.ws.empty_t").collect() }
    assert(e.getMessage.contains("empty_t"), e.getMessage)
  }

  test("staging catalog: rename moves the table; duplicate CREATE fails") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rn_a")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rn_b")
    spark.sql("CREATE TABLE stage_t.ws.rn_a (x INT)")
    spark.sql("INSERT INTO stage_t.ws.rn_a VALUES (7)")
    spark.sql("ALTER TABLE stage_t.ws.rn_a RENAME TO ws.rn_b")
    assert(spark.sql("SELECT x FROM stage_t.ws.rn_b").collect()(0).getInt(0) === 7)
    val e = intercept[Exception] { spark.sql("SELECT * FROM stage_t.ws.rn_a").collect() }
    assert(e.getMessage.contains("rn_a"), e.getMessage)
    val e2 = intercept[Exception] { spark.sql("CREATE TABLE stage_t.ws.rn_b (y INT)") }
    assert(e2.getMessage.toLowerCase.contains("exists"), e2.getMessage)
  }

  test("staging catalog: ALTER TABLE ADD COLUMN evolves the sidecar; old files surface NULL") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.evolve_t")
    spark.read.parquet(s"$sfDir/customer.parquet").createOrReplaceTempView("cust_src_ev")
    spark.sql(
      """CREATE TABLE stage_t.ws.evolve_t AS
        |SELECT c_custkey, c_mktsegment FROM cust_src_ev WHERE c_custkey % 2 = 0""".stripMargin)
    val before = spark.sql("SELECT count(*) FROM stage_t.ws.evolve_t").collect()(0).getLong(0)
    assert(before > 0)
    // widen the DECLARED schema: existing parquet files are untouched
    spark.sql("ALTER TABLE stage_t.ws.evolve_t ADD COLUMN priority INT")
    // wider INSERT lands through the same DSv2 committer
    spark.sql(
      """INSERT INTO stage_t.ws.evolve_t
        |SELECT c_custkey, c_mktsegment, CAST(5 AS INT) FROM cust_src_ev
        |WHERE c_custkey % 2 = 1""".stripMargin)
    val df = spark.table("stage_t.ws.evolve_t")
    assert(df.schema.fieldNames.toSeq === Seq("c_custkey", "c_mktsegment", "priority"))
    // pre-evolution rows surface NULL for the new column; new rows carry it
    val nulls = df.where(col("priority").isNull).count()
    val fives = df.where(col("priority") === 5).count()
    assert(nulls === before, s"expected $before old rows with NULL priority, got $nulls")
    assert(fives > 0 && nulls + fives === df.count())
    // refused evolutions: duplicate column, file-rewriting changes
    val dup = intercept[Exception] {
      spark.sql("ALTER TABLE stage_t.ws.evolve_t ADD COLUMN c_custkey STRING")
    }
    assert(dup.getMessage.toLowerCase.contains("exist"), dup.getMessage)
    val retype = intercept[Exception] {
      spark.sql("ALTER TABLE stage_t.ws.evolve_t ALTER COLUMN priority TYPE STRING")
    }
    assert(retype.getMessage.toLowerCase.contains("unsupported"), retype.getMessage)
    // (DROP/RENAME COLUMN are supported since r8 — see the schema
    // evolution lifecycle test)
  }

  test("staging catalog time travel: VERSION AS OF / TIMESTAMP AS OF read committed snapshots") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.tt")
    spark.read.parquet(s"$sfDir/orders.parquet").createOrReplaceTempView("tt_src")
    spark.sql( // commit 1
      "CREATE TABLE stage_t.ws.tt AS SELECT o_orderkey, o_totalprice FROM tt_src WHERE o_orderkey % 3 = 0")
    val n1 = spark.sql("SELECT count(*) FROM stage_t.ws.tt").collect()(0).getLong(0)
    spark.sql( // commit 2
      "INSERT INTO stage_t.ws.tt SELECT o_orderkey, o_totalprice FROM tt_src WHERE o_orderkey % 3 = 1")
    val n2 = spark.sql("SELECT count(*) FROM stage_t.ws.tt").collect()(0).getLong(0)
    assert(n2 > n1 && n1 > 0)
    // VERSION AS OF pins each commit's exact file set
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.tt VERSION AS OF 1")
      .collect()(0).getLong(0) === n1)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.tt VERSION AS OF 2")
      .collect()(0).getLong(0) === n2)
    // v1 content is EXACTLY the CTAS slice, not just the right count
    val v1Keys = spark.sql("SELECT o_orderkey FROM stage_t.ws.tt VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSet
    assert(v1Keys.forall(_ % 3 == 0))
    // TIMESTAMP AS OF far in the future resolves to the latest version
    assert(spark.sql(
        "SELECT count(*) FROM stage_t.ws.tt TIMESTAMP AS OF '2100-01-01 00:00:00'")
      .collect()(0).getLong(0) === n2)
    // a version that was never committed is a clear error
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM stage_t.ws.tt VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("no version 99"), e.getMessage)
    // copy-on-write invariant: INSERT OVERWRITE (supported since r8) is a
    // NEW version — every earlier manifest's file set stays readable
    spark.sql(
      "INSERT OVERWRITE stage_t.ws.tt SELECT o_orderkey, o_totalprice FROM tt_src LIMIT 1")
    assert(spark.table("stage_t.ws.tt").count() === 1L)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.tt VERSION AS OF 1")
      .collect()(0).getLong(0) === n1, "overwrite must not disturb pinned history")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.tt VERSION AS OF 2")
      .collect()(0).getLong(0) === n2)
  }

  test("staging maintenance: OPTIMIZE compacts as a new version; VACUUM reclaims unreferenced files") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.opt")
    spark.read.parquet(s"$sfDir/orders.parquet").repartition(3)
      .createOrReplaceTempView("opt_src")
    spark.sql( // commit 1 (3 files)
      "CREATE TABLE stage_t.ws.opt AS SELECT o_orderkey, o_totalprice FROM opt_src WHERE o_orderkey % 4 = 0")
    spark.sql( // commit 2
      "INSERT INTO stage_t.ws.opt SELECT o_orderkey, o_totalprice FROM opt_src WHERE o_orderkey % 4 = 1")
    spark.sql( // commit 3
      "INSERT INTO stage_t.ws.opt SELECT o_orderkey, o_totalprice FROM opt_src WHERE o_orderkey % 4 = 2")
    val dir = new java.io.File(stageRoot, "ws/opt")
    def dirFiles() = dir.listFiles().count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val n1 = spark.sql("SELECT count(*) FROM stage_t.ws.opt VERSION AS OF 1")
      .collect()(0).getLong(0)
    val nCur = spark.sql("SELECT count(*) FROM stage_t.ws.opt").collect()(0).getLong(0)
    val filesBefore = dirFiles()
    assert(filesBefore >= 6, s"expected many small files, got $filesBefore")

    val (nb, na, v) = StagingMaintenance.optimize(spark, "stage_t", "ws", "opt", targetFiles = 2)
    assert(nb === filesBefore && na === 2 && v === 4L, s"($nb, $na, $v)")
    // content unchanged, current now served by the 2 compacted files,
    // originals retained on disk for time travel
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.opt").collect()(0).getLong(0) === nCur)
    assert(dirFiles() === filesBefore + 2)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.opt VERSION AS OF 1")
      .collect()(0).getLong(0) === n1)
    // the current scan must read ONLY the compacted files (manifest-pinned)
    val scanned = spark.sql("SELECT * FROM stage_t.ws.opt").queryExecution
      .executedPlan.toString
    assert(!scanned.contains("part-"), s"current read touches pre-optimize files:\n$scanned")

    // an INSERT after OPTIMIZE must not resurrect the originals
    spark.sql( // commit 5
      "INSERT INTO stage_t.ws.opt SELECT o_orderkey, o_totalprice FROM opt_src WHERE o_orderkey % 4 = 3")
    val nAll = spark.sql("SELECT count(*) FROM stage_t.ws.opt").collect()(0).getLong(0)
    val expected = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(nAll === expected, s"post-optimize insert wrong: $nAll vs $expected")

    val deleted = StagingMaintenance.vacuum(spark, "stage_t", "ws", "opt", retainLast = 1)
    assert(deleted.size === filesBefore, s"vacuum deleted ${deleted.size} of $filesBefore originals")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.opt").collect()(0).getLong(0) === expected)
    // vacuumed versions are gone with a clear error
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM stage_t.ws.opt VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("no version 1"), e.getMessage)
  }

  test("staging catalog: crashed-commit orphan files never enter a version; VACUUM reclaims them") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.orph")
    spark.sql("CREATE TABLE stage_t.ws.orph (k BIGINT)")
    spark.sql("INSERT INTO stage_t.ws.orph VALUES (1), (2)") // v1
    // plant an orphan: a committed-looking parquet file with no manifest —
    // the crash window between committer success and manifest write
    val tmp = java.nio.file.Files.createTempDirectory("graft_orph").toString
    spark.range(99, 100).selectExpr("id AS k").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val dir = new java.io.File(stageRoot, "ws/orph")
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(dir, "part-99999-orphan.snappy.parquet").toPath)
    def ks() = spark.sql("SELECT k FROM stage_t.ws.orph")
      .collect().map(_.getLong(0)).toSet
    // manifest-pinned reads: the orphan is invisible
    assert(ks() === Set(1L, 2L), s"orphan leaked into current read: ${ks()}")
    // a later commit must NOT absorb the orphan into its version
    spark.sql("INSERT INTO stage_t.ws.orph VALUES (3)") // v2
    assert(ks() === Set(1L, 2L, 3L), s"orphan absorbed by later commit: ${ks()}")
    // vacuum reclaims the orphan (unreferenced by any retained version)
    val deleted = StagingMaintenance.vacuum(spark, "stage_t", "ws", "orph", retainLast = 1)
    assert(deleted.contains("part-99999-orphan.snappy.parquet"), s"deleted: $deleted")
    assert(ks() === Set(1L, 2L, 3L))
  }

  test("change feed: file-diff delta rows; refused across an OPTIMIZE boundary") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.cdc")
    spark.sql("CREATE TABLE stage_t.ws.cdc (k BIGINT)")
    spark.sql("INSERT INTO stage_t.ws.cdc VALUES (1), (2)") // v1
    spark.sql("INSERT INTO stage_t.ws.cdc VALUES (3)")      // v2
    spark.sql("INSERT INTO stage_t.ws.cdc VALUES (4), (5)") // v3
    def changed(from: Long, to: Long) =
      StagingMaintenance.changesBetween(spark, "stage_t", "ws", "cdc", from, to)
        .collect().map(_.getLong(0)).toSet
    assert(changed(1, 3) === Set(3L, 4L, 5L))
    assert(changed(0, 1) === Set(1L, 2L)) // from version 0 = since creation
    assert(changed(2, 2) === Set.empty)   // empty delta keeps the schema
    StagingMaintenance.optimize(spark, "stage_t", "ws", "cdc", targetFiles = 1) // v4
    spark.sql("INSERT INTO stage_t.ws.cdc VALUES (6)") // v5
    // post-optimize deltas work; ranges CROSSING the optimize are refused
    assert(changed(4, 5) === Set(6L))
    val e = intercept[IllegalArgumentException] { changed(3, 5) }
    assert(e.getMessage.contains("OPTIMIZE"), e.getMessage)
  }

  test("zone maps: footer-harvested min/max skips non-overlapping files; unanalyzed files read conservatively") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.zm")
    // three commits over disjoint key ranges -> per-commit files have
    // disjoint footer min/max on k
    spark.sql("CREATE TABLE stage_t.ws.zm AS SELECT id AS k FROM range(0, 100)")
    spark.sql("INSERT INTO stage_t.ws.zm SELECT id AS k FROM range(1000, 1100)")
    spark.sql("INSERT INTO stage_t.ws.zm SELECT id AS k FROM range(2000, 2100)")
    // BEFORE analyze: no stats sidecar, every current file is read
    val (dfCons, curCons, readCons) =
      StagingMaintenance.prunedScan(spark, "stage_t", "ws", "zm", "k", 1000L, 1099L)
    assert(readCons === curCons, s"unanalyzed files must be kept: $readCons/$curCons")
    assert(dfCons.count() === 100)
    val analyzed = StagingMaintenance.analyze(spark, "stage_t", "ws", "zm", Seq("k"))
    assert(analyzed > 0)
    // AFTER analyze: only the middle commit's files can intersect [1000,1099]
    val (df, cur, read) =
      StagingMaintenance.prunedScan(spark, "stage_t", "ws", "zm", "k", 1000L, 1099L)
    assert(read < cur, s"zone maps must skip files: read $read of $cur")
    assert(df.count() === 100)
    assert(df.agg(min(col("k")), max(col("k"))).collect()(0).toSeq === Seq(1000L, 1099L))
    // pruning never substitutes for the filter: a range clipping a file
    // still applies the row-level predicate
    val (dfClip, _, _) =
      StagingMaintenance.prunedScan(spark, "stage_t", "ws", "zm", "k", 1050L, 2049L)
    assert(dfClip.count() === 100) // 1050..1099 + 2000..2049
    // incremental: re-analyze touches nothing; a new commit adds only its files
    assert(StagingMaintenance.analyze(spark, "stage_t", "ws", "zm", Seq("k")) === 0)
    spark.sql("INSERT INTO stage_t.ws.zm SELECT id AS k FROM range(3000, 3100)")
    val re = StagingMaintenance.analyze(spark, "stage_t", "ws", "zm", Seq("k"))
    assert(re > 0 && re < cur, s"incremental analyze touched $re files")
    val (df2, cur2, read2) =
      StagingMaintenance.prunedScan(spark, "stage_t", "ws", "zm", "k", 3000L, 3099L)
    assert(read2 < cur2 && df2.count() === 100)
  }

  test("conjunctive zone maps: AND-composed predicates prune files neither predicate prunes alone") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.zm2")
    // three commits correlated on (k, v): each file covers a distinct 2-D tile
    spark.sql("CREATE TABLE stage_t.ws.zm2 AS SELECT id AS k, id div 10 AS v FROM range(0, 1000)")
    spark.sql("INSERT INTO stage_t.ws.zm2 SELECT id AS k, id div 10 AS v FROM range(1000, 2000)")
    spark.sql("INSERT INTO stage_t.ws.zm2 SELECT id AS k, id div 10 AS v FROM range(2000, 3000)")
    StagingMaintenance.analyze(spark, "stage_t", "ws", "zm2", Seq("k", "v"))
    // k ∈ [1000,1500] matches file 2; v ∈ [205, 210] matches file 3 —
    // individually each keeps files, together they keep NONE
    val (_, _, readK) =
      StagingMaintenance.prunedScan(spark, "stage_t", "ws", "zm2", Seq(("k", 1000L, 1500L)))
    val (_, _, readV) =
      StagingMaintenance.prunedScan(spark, "stage_t", "ws", "zm2", Seq(("v", 205L, 210L)))
    assert(readK > 0 && readV > 0)
    val (dfBoth, cur, readBoth) = StagingMaintenance.prunedScan(
      spark, "stage_t", "ws", "zm2", Seq(("k", 1000L, 1500L), ("v", 205L, 210L)))
    assert(readBoth === 0, s"conjunction should prune everything, read $readBoth of $cur")
    assert(dfBoth.count() === 0)
    // a satisfiable conjunction reads only the intersecting file and the
    // row filter still applies
    val (dfHit, _, readHit) = StagingMaintenance.prunedScan(
      spark, "stage_t", "ws", "zm2", Seq(("k", 1000L, 1500L), ("v", 100L, 120L)))
    assert(readHit < cur && readHit > 0)
    assert(dfHit.count() === 210) // k in 1000..1209 (v = k/10 in 100..120)
  }

  test("CLUSTER BY rewrite turns useless zone maps into disjoint per-file ranges") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.cl")
    // ingestion-order commits, hash-scattered so EVERY written file spans
    // the full keyspace (range()'s own splits are contiguous, which would
    // accidentally pre-cluster the layout)
    spark.sql("""CREATE TABLE stage_t.ws.cl AS
      SELECT k FROM (SELECT id AS k FROM range(0, 3000) WHERE id % 3 = 0) DISTRIBUTE BY k""")
    spark.sql("""INSERT INTO stage_t.ws.cl
      SELECT k FROM (SELECT id AS k FROM range(0, 3000) WHERE id % 3 = 1) DISTRIBUTE BY k""")
    spark.sql("""INSERT INTO stage_t.ws.cl
      SELECT k FROM (SELECT id AS k FROM range(0, 3000) WHERE id % 3 = 2) DISTRIBUTE BY k""")
    StagingMaintenance.analyze(spark, "stage_t", "ws", "cl", Seq("k"))
    // unclustered: every file's [min,max] covers the range -> nothing skips
    val (_, curU, readU) =
      StagingMaintenance.prunedScan(spark, "stage_t", "ws", "cl", "k", 1000L, 1200L)
    assert(readU === curU, s"unclustered files should all overlap: $readU/$curU")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "cl",
      targetFiles = 8, clusterBy = Some("k"))
    StagingMaintenance.analyze(spark, "stage_t", "ws", "cl", Seq("k"))
    val (df, curC, readC) =
      StagingMaintenance.prunedScan(spark, "stage_t", "ws", "cl", "k", 1000L, 1200L)
    assert(curC === 8, s"clustered rewrite should land 8 files, got $curC")
    assert(readC <= 2, s"disjoint ranges: a 200/3000 slice should touch <=2 of 8 files, read $readC")
    assert(df.count() === 201)
    // content preserved end to end
    assert(spark.sql("SELECT count(*), min(k), max(k) FROM stage_t.ws.cl")
      .collect()(0).toSeq === Seq(3000L, 0L, 2999L))
  }

  test("DELETE FROM: copy-on-write rewrite, snapshot intact, row-level fallback for untranslatable predicates") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.del")
    spark.sql("CREATE TABLE stage_t.ws.del AS SELECT id AS k FROM range(0, 1000)") // v1
    spark.sql("DELETE FROM stage_t.ws.del WHERE k >= 500 AND k < 600")             // v2
    assert(spark.table("stage_t.ws.del").count() === 900)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.del WHERE k BETWEEN 500 AND 599")
      .collect()(0).getLong(0) === 0)
    // time travel: the pre-delete version still reads all 1000 rows
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.del VERSION AS OF 1")
      .collect()(0).getLong(0) === 1000)
    // IN-list deletes work; deletes compose
    spark.sql("DELETE FROM stage_t.ws.del WHERE k IN (0, 1, 2)") // v3
    assert(spark.table("stage_t.ws.del").count() === 897)
    // a predicate with no source-filter translation falls back to the
    // GROUP-BASED row-level rewrite (SupportsRowLevelOperations) instead of
    // erroring: arbitrary-expression deletes work, just via full rewrite
    val before897 = spark.table("stage_t.ws.del")
      .collect().map(_.getLong(0)).toSet
    spark.sql("DELETE FROM stage_t.ws.del WHERE k % 7 = 3")
    val expected897 = before897.filterNot(_ % 7 == 3)
    assert(spark.table("stage_t.ws.del").collect().map(_.getLong(0)).toSet === expected897)
    // the change feed refuses to cross the delete rewrite (v4 = the
    // row-level-rewrite delete above)
    spark.sql("INSERT INTO stage_t.ws.del VALUES (5000)") // v5
    val e2 = intercept[IllegalArgumentException] {
      StagingMaintenance.changesBetween(spark, "stage_t", "ws", "del", 1L, 5L).collect()
    }
    assert(e2.getMessage.contains("DELETE"), e2.getMessage)
    // post-delete deltas still work
    assert(StagingMaintenance.changesBetween(spark, "stage_t", "ws", "del", 4L, 5L)
      .collect().map(_.getLong(0)).toSet === Set(5000L))
    // VACUUM reclaims the pre-delete files once their versions drop
    val dead = StagingMaintenance.vacuum(spark, "stage_t", "ws", "del", retainLast = 1)
    assert(dead.nonEmpty)
    assert(spark.table("stage_t.ws.del").count() === expected897.size + 1)
    val e3 = intercept[Exception] {
      spark.sql("SELECT count(*) FROM stage_t.ws.del VERSION AS OF 1").collect()
    }
    assert(e3.getMessage.contains("version"), e3.getMessage)
  }

  test("UPDATE and MERGE INTO: group-based copy-on-write rewrites with version history") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rl")
    spark.sql("CREATE TABLE stage_t.ws.rl AS SELECT id AS k, id * 10 AS v FROM range(0, 100)") // v1
    // UPDATE: matching rows change, NON-matching rows must survive the
    // whole-table group rewrite untouched
    spark.sql("UPDATE stage_t.ws.rl SET v = v + 1 WHERE k % 2 = 0") // v2
    val after = spark.sql("SELECT k, v FROM stage_t.ws.rl")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size === 100, "update dropped rows")
    (0L until 100L).foreach { k =>
      assert(after(k) === (if (k % 2 == 0) k * 10 + 1 else k * 10), s"k=$k")
    }
    // pre-update snapshot intact
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM stage_t.ws.rl VERSION AS OF 1")
      .collect()(0).getLong(0) === (0L until 100L).map(_ * 10).sum)
    // MERGE INTO: update matched, insert unmatched
    spark.range(50, 150).selectExpr("id AS k", "CAST(-1 AS BIGINT) AS v")
      .createOrReplaceTempView("rl_src")
    spark.sql(
      """MERGE INTO stage_t.ws.rl t USING rl_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin) // v3
    val merged = spark.sql("SELECT k, v FROM stage_t.ws.rl")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged.size === 150)
    (0L until 150L).foreach { k =>
      val expect =
        if (k >= 50) -1L
        else if (k % 2 == 0) k * 10 + 1
        else k * 10
      assert(merged(k) === expect, s"k=$k got ${merged(k)}")
    }
    // the rewrites minted kind-tagged versions: the change feed refuses them
    val e = intercept[IllegalArgumentException] {
      StagingMaintenance.changesBetween(spark, "stage_t", "ws", "rl", 1L, 2L).collect()
    }
    assert(e.getMessage.contains("UPDATE"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      StagingMaintenance.changesBetween(spark, "stage_t", "ws", "rl", 2L, 3L).collect()
    }
    assert(e2.getMessage.contains("MERGE"), e2.getMessage)
  }

  test("aggregate pushdown: count/min/max on a staging table answer from parquet footers") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.fa")
    spark.sql("CREATE TABLE stage_t.ws.fa AS SELECT id AS k, id * 2 AS v FROM range(0, 5000)")
    val prev = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val df = spark.sql("SELECT count(*) AS n, min(k) AS mn, max(v) AS mx FROM stage_t.ws.fa")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation"), s"no footer-served aggregation:\n$plan")
      assert(df.collect()(0).toSeq === Seq(5000L, 0L, 9998L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.aggregatePushdown", v)
        case None    => spark.conf.unset("spark.sql.parquet.aggregatePushdown")
      }
    }
  }

  test("concurrent INSERTs: both commits mint versions, no rows lost, manifests stay consistent") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.conc")
    spark.sql("CREATE TABLE stage_t.ws.conc AS SELECT id AS k FROM range(0, 100)") // v1
    // two writers race: the commit-manifest hook is synchronized, so both
    // land as distinct versions and the later one's current set includes
    // the earlier one's files (no lost update on the manifest chain)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = Seq(1000, 2000).map { base =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            spark.sql(s"INSERT INTO stage_t.ws.conc SELECT id AS k FROM range($base, ${base + 50})")
            ()
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val ks = spark.sql("SELECT k FROM stage_t.ws.conc").collect().map(_.getLong(0))
    assert(ks.length === 200, s"rows lost or duplicated: ${ks.length}")
    assert(ks.toSet === ((0L until 100L) ++ (1000L until 1050L) ++ (2000L until 2050L)).toSet)
    val hist = StagingMaintenance.history(spark, "stage_t", "ws", "conc")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.length === 3 && hist.forall(_._2 == "commit"), hist.toSeq)
    // the final manifest's file set serves ALL rows (v3 ⊇ both inserts)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.conc VERSION AS OF 3")
      .collect()(0).getLong(0) === 200)
  }

  test("DELETE on a NULL-bearing column keeps NULL rows (SQL three-valued semantics)") {
    // Reachable for real after ALTER TABLE ADD COLUMN: pre-ALTER files
    // surface NULL for the new column, and `DELETE WHERE c = 'x'` is a
    // translatable EqualTo that rides the metadata fast path — which must
    // delete only TRUE matches, never the NULL-predicate rows.
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.nd")
    spark.sql("CREATE TABLE stage_t.ws.nd AS SELECT id AS k FROM range(0, 100)") // v1
    spark.sql("ALTER TABLE stage_t.ws.nd ADD COLUMN tag STRING")
    spark.sql( // v2: rows 100..109 carry tags, the 100 old rows surface NULL
      "INSERT INTO stage_t.ws.nd SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END AS tag FROM range(100, 110)")
    assert(spark.table("stage_t.ws.nd").count() === 110)
    spark.sql("DELETE FROM stage_t.ws.nd WHERE tag = 'x'") // v3
    val left = spark.table("stage_t.ws.nd")
    assert(left.count() === 105, "NULL-tag rows must survive a tag='x' delete")
    assert(left.where(col("tag").isNull).count() === 100)
    assert(left.where(col("tag") === "y").count() === 5)
    assert(left.where(col("tag") === "x").count() === 0)
    // the inequality face too: NULL <> 'y' is NULL, not TRUE — keeps NULLs
    spark.sql("DELETE FROM stage_t.ws.nd WHERE tag <> 'y'")
    assert(spark.table("stage_t.ws.nd").count() === 105)
  }

  test("explicit file:// URI root: full CTAS→INSERT→time-travel→OPTIMIZE→zone-map cycle") {
    import graft.sources.catalog.StagingMaintenance
    // The catalog resolves its FileSystem from the root's scheme — the
    // deployment shape the reference exists for (cephrgw:// behind the
    // Hadoop FS API). Prove the whole lifecycle against a scheme-qualified
    // URI rather than a bare local path.
    val uriRoot = "file://" + java.nio.file.Files.createTempDirectory("graft_uri_root_")
    spark.conf.set("spark.sql.catalog.stage_u",
      classOf[graft.sources.catalog.GraftStagingCatalog].getName)
    spark.conf.set("spark.sql.catalog.stage_u.root", uriRoot)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_u.ws")
    spark.sql("CREATE TABLE stage_u.ws.t AS SELECT id AS k FROM range(0, 500)")   // v1
    spark.sql("INSERT INTO stage_u.ws.t SELECT id AS k FROM range(500, 1000)")    // v2
    assert(spark.table("stage_u.ws.t").count() === 1000)
    assert(spark.sql("SELECT count(*) FROM stage_u.ws.t VERSION AS OF 1")
      .collect()(0).getLong(0) === 500)
    val (nb, na, v) = StagingMaintenance.optimize(spark, "stage_u", "ws", "t",
      targetFiles = 2, clusterBy = Some("k"))
    assert(nb > 0 && na === 2 && v === 3L, s"($nb, $na, $v)")
    assert(spark.table("stage_u.ws.t").count() === 1000)
    StagingMaintenance.analyze(spark, "stage_u", "ws", "t", Seq("k"))
    val (df, cur, read) = StagingMaintenance.prunedScan(spark, "stage_u", "ws", "t", "k", 0L, 100L)
    assert(cur === 2 && read === 1 && df.count() === 101, s"($cur, $read)")
    val dead = StagingMaintenance.vacuum(spark, "stage_u", "ws", "t", retainLast = 1)
    assert(dead.nonEmpty && spark.table("stage_u.ws.t").count() === 1000)
  }

  test("racing row-level rewrites: optimistic concurrency never loses an update") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.race")
    spark.sql("CREATE TABLE stage_t.ws.race AS SELECT id AS k, id * 10 AS v FROM range(0, 200)")
    // Two whole-table rewrites race. The commit protocol (base-version
    // check inside the manifest write) guarantees: the first committer
    // wins; a second committer whose snapshot went stale ABORTS with a
    // conflict instead of replacing the table from its stale base (which
    // would silently erase the winner's change). Either both serialize
    // cleanly (both effects present) or exactly the winners' effects are
    // present and the loser raised a conflict — never a lost update.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val outcomes = try {
      val futures = Seq(
        "UPDATE stage_t.ws.race SET v = v + 1 WHERE k = 0",
        "UPDATE stage_t.ws.race SET v = v + 1 WHERE k = 1").map { sqlText =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          override def call(): Option[String] =
            try { spark.sql(sqlText); None }
            catch { case e: Exception => Some(e.toString + Option(e.getCause).mkString) }
        })
      }
      futures.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val vals = spark.table("stage_t.ws.race").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vals.size === 200, "rewrite dropped rows")
    val applied = Seq(0L, 1L).map(k => vals(k) == k * 10 + 1)
    val failures = outcomes.flatten
    if (failures.isEmpty) {
      assert(applied.forall(identity),
        s"both UPDATEs reported success but an effect is missing: $vals — lost update")
    } else {
      assert(failures.forall(_.toLowerCase.contains("conflict")), failures.mkString("\n"))
      assert(applied.count(identity) === outcomes.count(_.isEmpty),
        s"successful statements: ${outcomes.count(_.isEmpty)}, applied effects: $applied")
    }
    // sanity: untouched rows unchanged either way
    assert((2L until 200L).forall(k => vals(k) == k * 10))
  }

  test("timestamp zone maps: event-time ranges prune files after a clustered rewrite") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.tsz")
    // stage a time-ordered event table; cluster on ts so files carry
    // disjoint [min,max] event-time ranges — the hottest pruning key
    val prevT = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      spark.sql(
        """CREATE TABLE stage_t.ws.tsz AS
          |SELECT timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60) AS ts,
          |       id AS k
          |FROM range(0, 2880)""".stripMargin) // 2 days of minutes
      StagingMaintenance.optimize(spark, "stage_t", "ws", "tsz",
        targetFiles = 8, clusterBy = Some("ts"))
      StagingMaintenance.analyze(spark, "stage_t", "ws", "tsz", Seq("ts"))
      // one-hour slice in MICROS since epoch (sidecar's normalized scale)
      val lo = java.time.Instant.parse("2026-01-01T06:00:00Z")
      val hi = java.time.Instant.parse("2026-01-01T06:59:00Z")
      def micros(i: java.time.Instant) = i.getEpochSecond * 1000000L
      val (df, cur, read) = StagingMaintenance.prunedScan(
        spark, "stage_t", "ws", "tsz", "ts", micros(lo), micros(hi))
      assert(cur === 8 && read <= 2, s"hour slice should touch <=2 of 8 files, read $read")
      assert(df.count() === 60)
      import org.apache.spark.sql.functions.{max => fmax, min => fmin}
      val Array(mn, mx) = df.agg(fmin(col("ts")), fmax(col("ts"))).collect()(0)
        .toSeq.map(_.toString).toArray
      assert(mn.startsWith("2026-01-01 06:00") && mx.startsWith("2026-01-01 06:59"), s"$mn / $mx")
    } finally {
      prevT match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
    }
  }

  test("plain SQL SELECT on an analyzed table skips files through the DSv2 scan") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.sqlzm")
    spark.sql("CREATE TABLE stage_t.ws.sqlzm AS SELECT id AS k, id % 7 AS tag FROM range(0, 3000)")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "sqlzm",
      targetFiles = 6, clusterBy = Some("k"))
    StagingMaintenance.analyze(spark, "stage_t", "ws", "sqlzm", Seq("k"))
    ZoneMapScan.lastPrune = None
    // no side API: the catalog's ScanBuilder consults the stats sidecar
    val df = spark.sql("SELECT k, tag FROM stage_t.ws.sqlzm WHERE k BETWEEN 1000 AND 1400")
    assert(df.count() === 401)
    val prune = ZoneMapScan.lastPrune
    assert(prune.isDefined, "zone-map scan path not engaged")
    val (kept, total) = prune.get
    assert(total === 6 && kept <= 2, s"selective range should keep <=2 of 6 files, kept $kept/$total")
    // the row-level filter still applies on top of the kept files
    assert(df.agg(min(col("k")), max(col("k"))).collect()(0).toSeq === Seq(1000L, 1400L))
    // unanalyzed predicates and unfilterable scans stay untouched
    ZoneMapScan.lastPrune = None
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.sqlzm WHERE tag = 3").collect()(0)
      .getLong(0) === spark.table("stage_t.ws.sqlzm").where(col("tag") === 3).count())

    // STRING zone maps prune through the same plain-SQL path: a table
    // clustered on a string key skips files whose [min,max] UTF-8 range
    // cannot contain the equality literal
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.sqlzs")
    spark.sql("""CREATE TABLE stage_t.ws.sqlzs AS
      SELECT id AS k, concat('grp', CAST(id % 8 AS STRING)) AS g FROM range(0, 4000)""")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "sqlzs",
      targetFiles = 8, clusterBy = Some("g"))
    StagingMaintenance.analyze(spark, "stage_t", "ws", "sqlzs", Seq("g"))
    ZoneMapScan.lastPrune = None
    val dfS = spark.sql("SELECT count(*) AS n FROM stage_t.ws.sqlzs WHERE g = 'grp3'")
    assert(dfS.collect()(0).getLong(0) === 500)
    val (keptS, totalS) = ZoneMapScan.lastPrune.getOrElse(fail("string path not engaged"))
    assert(totalS >= 5 && keptS < totalS,
      s"string equality should skip files: kept $keptS/$totalS")
  }

  test("file-granular DELETE: zone maps confine the rewrite to intersecting files") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.fgd")
    spark.sql("""CREATE TABLE stage_t.ws.fgd AS
      SELECT k FROM (SELECT id AS k FROM range(0, 3200)) DISTRIBUTE BY k""")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "fgd",
      targetFiles = 8, clusterBy = Some("k"))
    StagingMaintenance.analyze(spark, "stage_t", "ws", "fgd", Seq("k"))
    def currentFiles(): Set[String] = {
      val vd = new java.io.File(stageRoot, "ws/fgd/_graft_versions")
      val latest = vd.listFiles().filter(_.getName.matches("v\\d+\\.json"))
        .maxBy(_.getName.stripPrefix("v").stripSuffix(".json").toLong)
      val txt = new String(java.nio.file.Files.readAllBytes(latest.toPath))
      "\"([^\"]+)\"".r.findAllMatchIn(
        txt.substring(txt.indexOf('['))).map(_.group(1)).toSet
    }
    val before = currentFiles()
    assert(before.size === 8)
    // a 100-row slice of a clustered 3200-row table: the rewrite must only
    // touch the file(s) whose [min,max] intersects — the rest carry into
    // the new version BY NAME
    spark.sql("DELETE FROM stage_t.ws.fgd WHERE k >= 1000 AND k < 1100")
    val after = currentFiles()
    val carried = after.intersect(before)
    assert(carried.size >= 6,
      s"expected >=6 of 8 files untouched, carried ${carried.size}: $after")
    assert(after !== before, "delete rewrote nothing")
    // content exact: the slice is gone, everything else intact
    assert(spark.table("stage_t.ws.fgd").count() === 3100)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.fgd WHERE k BETWEEN 1000 AND 1099")
      .collect()(0).getLong(0) === 0)
    assert(spark.sql("SELECT CAST(sum(k) AS BIGINT) FROM stage_t.ws.fgd").collect()(0)
      .getLong(0) === (0L until 3200L).sum - (1000L until 1100L).sum)
    // a provably-no-match delete carries EVERY file (metadata-only delete);
    // the file delete #1 rewrote needs stats first — unanalyzed files are
    // conservatively rewritten
    StagingMaintenance.analyze(spark, "stage_t", "ws", "fgd", Seq("k"))
    spark.sql("DELETE FROM stage_t.ws.fgd WHERE k >= 100000")
    assert(currentFiles() === after, "no-match delete should rewrite nothing")
    assert(spark.table("stage_t.ws.fgd").count() === 3100)
  }

  test("file-granular UPDATE: zone maps confine the group rewrite to matching files") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.fgu")
    spark.sql("""CREATE TABLE stage_t.ws.fgu AS
      SELECT k, k * 10 AS v FROM (SELECT id AS k FROM range(0, 3200)) DISTRIBUTE BY k""")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "fgu",
      targetFiles = 8, clusterBy = Some("k"))
    StagingMaintenance.analyze(spark, "stage_t", "ws", "fgu", Seq("k"))
    def currentFiles(): Set[String] = {
      val vd = new java.io.File(stageRoot, "ws/fgu/_graft_versions")
      val latest = vd.listFiles().filter(_.getName.matches("v\\d+\\.json"))
        .maxBy(_.getName.stripPrefix("v").stripSuffix(".json").toLong)
      val txt = new String(java.nio.file.Files.readAllBytes(latest.toPath))
      "\"([^\"]+)\"".r.findAllMatchIn(
        txt.substring(txt.indexOf('['))).map(_.group(1)).toSet
    }
    val before = currentFiles()
    assert(before.size === 8)
    // a keyed 100-row UPDATE on a clustered 3200-row table: the group
    // rewrite must scan only the file(s) whose [min,max] admit the range —
    // every other file carries into the new version BY NAME
    spark.sql("UPDATE stage_t.ws.fgu SET v = v + 1000000 WHERE k >= 1000 AND k < 1100")
    val after = currentFiles()
    val carried = after.intersect(before)
    assert(carried.size >= 6,
      s"expected >=6 of 8 files untouched by a keyed UPDATE, carried ${carried.size}")
    assert(after !== before, "update rewrote nothing")
    // content exact: updated slice shifted, everything else intact
    assert(spark.table("stage_t.ws.fgu").count() === 3200)
    assert(spark.sql(
      "SELECT count(*) FROM stage_t.ws.fgu WHERE v >= 1000000").collect()(0).getLong(0) === 100)
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM stage_t.ws.fgu").collect()(0)
      .getLong(0) === (0L until 3200L).map(_ * 10).sum + 100L * 1000000L)
    // VERSION AS OF: the pre-update snapshot still reads the old values
    val preV = spark.sql("CALL stage_t.history('ws', 'fgu')")
      .where("kind = 'optimize'").collect()(0).getLong(0)
    assert(spark.sql(
      s"SELECT count(*) FROM stage_t.ws.fgu VERSION AS OF $preV WHERE v >= 1000000")
      .collect()(0).getLong(0) === 0)
    // sequential keyed UPDATEs keep composing: each rewrites its own slice
    // and carries the rest (the optimistic conflict guard itself is pinned
    // by the racing-rewrites test and StagingProtocolSpec — unchanged by
    // file-granular commits, which go through the same writeExplicitManifest)
    val mid = currentFiles()
    spark.sql("UPDATE stage_t.ws.fgu SET v = -1 WHERE k = 5")
    val last = currentFiles()
    assert(last.intersect(mid).size >= 6, "second keyed update lost file granularity")
    assert(spark.sql("SELECT v FROM stage_t.ws.fgu WHERE k = 5").collect()(0).getLong(0) === -1L)
    assert(spark.table("stage_t.ws.fgu").count() === 3200)
  }

  test("file-granular MERGE: runtime group filtering confines the rewrite to matched files") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.fgm")
    spark.sql("""CREATE TABLE stage_t.ws.fgm AS
      SELECT k, k * 10 AS v FROM (SELECT id AS k FROM range(0, 3200)) DISTRIBUTE BY k""")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "fgm",
      targetFiles = 8, clusterBy = Some("k"))
    StagingMaintenance.analyze(spark, "stage_t", "ws", "fgm", Seq("k"))
    def currentFiles(): Set[String] = {
      val vd = new java.io.File(stageRoot, "ws/fgm/_graft_versions")
      val latest = vd.listFiles().filter(_.getName.matches("v\\d+\\.json"))
        .maxBy(_.getName.stripPrefix("v").stripSuffix(".json").toLong)
      val txt = new String(java.nio.file.Files.readAllBytes(latest.toPath))
      "\"([^\"]+)\"".r.findAllMatchIn(
        txt.substring(txt.indexOf('['))).map(_.group(1)).toSet
    }
    val before = currentFiles()
    assert(before.size === 8)
    // The MERGE condition references the SOURCE, so no static filter can
    // reach the target scan. Runtime group filtering closes the gap: Spark
    // evaluates the group-filter EXISTS against the table, collects the
    // matched join-key values, and delivers them to the row-level scan as
    // an IN — which zone maps turn into a file set. A 10-key merge into a
    // clustered 3200-row table must rewrite only the file(s) holding those
    // keys.
    spark.range(1000, 1010).selectExpr("id AS k", "CAST(-1 AS BIGINT) AS v")
      .createOrReplaceTempView("fgm_src")
    ZoneMapScan.lastRuntimeGroupFilters = Seq.empty
    spark.sql("""MERGE INTO stage_t.ws.fgm t USING fgm_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    assert(ZoneMapScan.lastRuntimeGroupFilters.nonEmpty,
      "runtime group filters never reached the row-level scan")
    val after = currentFiles()
    val carried = after.intersect(before)
    assert(carried.size >= 6,
      s"expected >=6 of 8 files untouched by a keyed MERGE, carried ${carried.size}")
    // content exact
    assert(spark.table("stage_t.ws.fgm").count() === 3200)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.fgm WHERE v = -1")
      .collect()(0).getLong(0) === 10)
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM stage_t.ws.fgm").collect()(0)
      .getLong(0) === (0L until 3200L).map(_ * 10).sum
        - (1000L until 1010L).map(_ * 10).sum - 10L)
    // full-sync (NOT MATCHED BY SOURCE) touches rows in every file — the
    // group filter must NOT confine it; correctness over minimality
    spark.range(0, 3200).selectExpr("id AS k", "id AS v").createOrReplaceTempView("fgm_all")
    spark.sql("""MERGE INTO stage_t.ws.fgm t USING fgm_all s ON t.k = s.k AND s.k < 10
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -7""")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.fgm WHERE v = -7")
      .collect()(0).getLong(0) === 3190)
    // MERGE insert arm: new rows land in fresh files, untouched files carry
    val preIns = currentFiles()
    spark.range(10000, 10005).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("fgm_new")
    StagingMaintenance.analyze(spark, "stage_t", "ws", "fgm", Seq("k"))
    spark.sql("""MERGE INTO stage_t.ws.fgm t USING fgm_new s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(spark.table("stage_t.ws.fgm").count() === 3205)
    val postIns = currentFiles()
    assert(postIns.intersect(preIns).nonEmpty,
      "insert-only merge rewrote every file instead of carrying unmatched ones")
  }

  test("partitioned staging tables: k=v layout, partition-pruned scans, metadata-only partition DELETE") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pt")
    // identity transform accepted at CREATE; ingest lands flat, OPTIMIZE
    // beds the files into the k=v namespace
    spark.sql("""CREATE TABLE stage_t.ws.pt (lang STRING, n BIGINT)
      PARTITIONED BY (lang)""")
    spark.sql("""INSERT INTO stage_t.ws.pt
      SELECT CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' ELSE 'fr' END,
             id FROM range(0, 900)""")
    assert(spark.table("stage_t.ws.pt").count() === 900)
    // unsupported transforms still refused (identity/days/bucket only)
    intercept[Exception] {
      spark.sql("CREATE TABLE stage_t.ws.pt_bad (k BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (years(ts))")
    }
    StagingMaintenance.optimize(spark, "stage_t", "ws", "pt", partitionBy = Some("lang"))
    // the readdir namespace: one lang=v dir per value, data files inside
    val dirs = new java.io.File(stageRoot, "ws/pt").listFiles()
      .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("_")).sorted
    assert(dirs.toSeq === Seq("lang=de", "lang=en", "lang=fr"), dirs.toSeq)
    // manifest references subdir-relative paths; content survives layout
    val files = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pt")
    assert(files.nonEmpty && files.forall(_.contains("/")), files)
    assert(spark.table("stage_t.ws.pt").count() === 900)
    assert(spark.sql("SELECT CAST(sum(n) AS BIGINT) FROM stage_t.ws.pt")
      .collect()(0).getLong(0) === (0L until 900L).sum)
    // partition pruning through plain SQL: the partition column is IN the
    // files (constant per file), so ANALYZE + zone maps skip other partitions
    StagingMaintenance.analyze(spark, "stage_t", "ws", "pt", Seq("lang"))
    ZoneMapScan.lastPrune = None
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.pt WHERE lang = 'de'")
      .collect()(0).getLong(0) === 300)
    val (kept, total) = ZoneMapScan.lastPrune.get
    assert(kept < total, s"partition scan read everything: ($kept, $total)")
    // metadata-only partition DELETE: lang='fr' files provably all-match →
    // dropped by manifest edit, nothing read or rewritten
    ZoneMapScan.lastDeleteSplit = None
    spark.sql("DELETE FROM stage_t.ws.pt WHERE lang = 'fr'")
    val (unt, drop, rew) = ZoneMapScan.lastDeleteSplit.get
    assert(drop >= 1 && rew === 0,
      s"partition delete should be metadata-only: ($unt, $drop, $rew)")
    assert(spark.table("stage_t.ws.pt").count() === 600)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.pt WHERE lang = 'fr'")
      .collect()(0).getLong(0) === 0)
    // time travel still pins the pre-delete snapshot
    val hist = spark.sql("CALL stage_t.history('ws', 'pt')").collect()
    val preDelete = hist.filter(_.getString(1) == "optimize").map(_.getLong(0)).max
    assert(spark.sql(
      s"SELECT count(*) FROM stage_t.ws.pt VERSION AS OF $preDelete")
      .collect()(0).getLong(0) === 900)
    // SQL face: CALL optimize with partition_by named arg re-beds after more ingest
    spark.sql("INSERT INTO stage_t.ws.pt VALUES ('it', 1)")
    spark.sql("CALL stage_t.optimize('ws', 'pt', partition_by => 'lang')")
    val dirs2 = new java.io.File(stageRoot, "ws/pt").listFiles()
      .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("_")).toSet
    assert(dirs2.contains("lang=it"), dirs2)
    assert(spark.table("stage_t.ws.pt").count() === 601)
  }

  test("storage-partitioned join: two bucket-laid-out tables join with ZERO Exchange") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_a")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_b")
    spark.read.parquet(s"$sfDir/orders.parquet").createOrReplaceTempView("spj_src")
    spark.sql("CREATE TABLE stage_t.ws.spj_a (k BIGINT, va BIGINT) PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO stage_t.ws.spj_a SELECT o_orderkey, o_custkey FROM spj_src")
    spark.sql("CREATE TABLE stage_t.ws.spj_b (k BIGINT, vb DOUBLE) PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO stage_t.ws.spj_b " +
      "SELECT o_orderkey, o_totalprice FROM spj_src WHERE o_orderkey % 2 = 0")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_a", partitionBy = Some("bucket(8,k)"))
    StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_b", partitionBy = Some("bucket(8,k)"))
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql(
        "SELECT a.k, va, vb FROM stage_t.ws.spj_a a JOIN stage_t.ws.spj_b b ON a.k = b.k")
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"expected shuffle-free SPJ plan:\n$p")
      val expected = spark.sql("SELECT count(*) FROM spj_src WHERE o_orderkey % 2 = 0")
        .collect()(0).getLong(0)
      assert(j.count() === expected && expected > 0)
      // checksum correctness against a path-based recompute
      val viaSpj = j.agg(sum(col("va") * (col("k") % 97))).collect()(0).getLong(0)
      val viaRaw = spark.sql(
        """SELECT CAST(sum(o_custkey * (o_orderkey % 97)) AS BIGINT)
          |FROM spj_src WHERE o_orderkey % 2 = 0""".stripMargin).collect()(0).getLong(0)
      assert(viaSpj === viaRaw)
      // a stray (non-laid-out) append makes the layout non-provable: the
      // report falls back to Unknown, the join plans WITH a shuffle, and
      // the result is still exact — correctness never rides the report
      spark.sql("INSERT INTO stage_t.ws.spj_b VALUES (2, 0.0)")
      val j2 = spark.sql(
        "SELECT a.k, va, vb FROM stage_t.ws.spj_a a JOIN stage_t.ws.spj_b b ON a.k = b.k")
      assert(j2.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(j2.count() === expected + 1)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("sorted-layout ordering report: bucketed SMJ skips its Sorts on declared-sort-order layouts; unordered layout keeps them") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    def mk(name: String, sorted: Boolean, filter: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$name")
      val props = if (sorted) " TBLPROPERTIES ('graft.sort-order'='k')" else ""
      spark.sql(s"CREATE TABLE stage_t.ws.$name (k BIGINT, v BIGINT) " +
        s"PARTITIONED BY (bucket(4, k))$props")
      spark.sql(s"INSERT INTO stage_t.ws.$name " +
        s"SELECT id, id * 7 FROM range(0, 400) WHERE $filter")
      StagingMaintenance.optimize(spark, "stage_t", "ws", name,
        partitionBy = Some("bucket(4,k)"))
    }
    mk("soj1", sorted = true, "id >= 0")
    mk("soj2", sorted = true, "id % 3 = 0")
    mk("suj1", sorted = false, "id >= 0")
    mk("suj2", sorted = false, "id % 3 = 0")
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def join(a: String, b: String) = spark.sql(
        s"SELECT x.k, x.v AS va, y.v AS vb FROM stage_t.ws.$a x " +
          s"JOIN stage_t.ws.$b y ON x.k = y.k")
      // SORTED pair: exchange-free AND sort-free — the scan reports
      // per-partition ordering on the declared column, the SMJ's required
      // ordering is satisfied, and both per-task Sorts vanish
      val j = join("soj1", "soj2")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"), s"expected a shuffle-free SPJ plan:\n$p")
      assert(!p.contains(" Sort ["), s"expected a SORT-FREE bucketed SMJ:\n$p")
      val rows = j.collect()
      assert(rows.length === 134) // multiples of 3 in [0, 400)
      assert(rows.forall(r => r.getLong(1) === r.getLong(0) * 7 &&
        r.getLong(2) === r.getLong(0) * 7), "sort-free SMJ mis-joined")
      // checksum against a plain recompute — a desynced merge (the failure
      // mode an unsorted partition would cause) cannot hash-match
      val viaSmj = j.agg(sum(col("va") * (col("k") % 97 + 1))).collect()(0).getLong(0)
      val viaRaw = spark.sql(
        """SELECT CAST(sum(id * 7 * (id % 97 + 1)) AS BIGINT)
          |FROM range(0, 400) WHERE id % 3 = 0""".stripMargin).collect()(0).getLong(0)
      assert(viaSmj === viaRaw)
      // UNORDERED pair: same exchange-free SPJ, but no ordering is claimed
      // (no declared sort) — the SMJ keeps its per-task Sorts and is exact
      val j2 = join("suj1", "suj2")
      val p2 = j2.queryExecution.executedPlan.toString
      assert(p2.contains("SortMergeJoin") && !p2.contains("Exchange"), p2)
      assert(p2.contains(" Sort ["),
        s"unordered layout must keep the SMJ Sorts:\n$p2")
      assert(j2.count() === 134L)
      // MIXED pair: one side unordered ⇒ at least that side sorts; exact
      val j3 = join("soj1", "suj2")
      assert(j3.queryExecution.executedPlan.toString.contains(" Sort ["), "mixed pair must sort")
      assert(j3.count() === 134L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    Seq("soj1", "soj2", "suj1", "suj2").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t"))
  }

  test("sort-order provenance (r14): ALTER on a non-empty table is not trusted retroactively; optimize re-proves the report; vacuum retires the marker") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    // two bucketed tables loaded with SCRAMBLED data and NO declared sort
    // order — their files are genuinely unsorted on k
    def mk(name: String, filter: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$name")
      spark.sql(s"CREATE TABLE stage_t.ws.$name (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
      // id*77 % 400 is a permutation of [0,400) arriving out of k order
      spark.sql(s"INSERT INTO stage_t.ws.$name " +
        s"SELECT (id * 77) % 400, ((id * 77) % 400) * 7 FROM range(0, 400) WHERE $filter")
      StagingMaintenance.optimize(spark, "stage_t", "ws", name,
        partitionBy = Some("bucket(4,k)"))
      // the RETROACTIVE declaration the r13 advice flagged: the live
      // property alone must not make the scan claim these files sorted
      spark.sql(s"ALTER TABLE stage_t.ws.$name " +
        "SET TBLPROPERTIES ('graft.sort-order'='k')")
    }
    mk("rsp1", "true")
    mk("rsp2", "(id * 77) % 400 % 3 = 0")
    def sidecar(name: String): String = sortOrderText(s"$stageRoot/ws/$name")
    assert(sidecar("rsp1").contains("#unsorted@"),
      "ALTER on a non-empty table must record the provenance marker")
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def join() = spark.sql(
        "SELECT x.k, x.v AS va, y.v AS vb FROM stage_t.ws.rsp1 x " +
          "JOIN stage_t.ws.rsp2 y ON x.k = y.k")
      def checksum(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(sum(col("va") * (col("k") % 97 + 1))).collect()(0).getLong(0)
      val expect = spark.sql(
        """SELECT CAST(sum(id * 7 * (id % 97 + 1)) AS BIGINT)
          |FROM range(0, 400) WHERE id % 3 = 0""".stripMargin).collect()(0).getLong(0)
      // PRE-REWRITE: the SPJ may drop exchanges, but the ordering report
      // must be withheld — the SMJ keeps its per-task Sorts and is exact.
      // (Before the fix this plan was sort-free over unsorted files and
      // silently mis-joined.)
      val j1 = join()
      val p1 = j1.queryExecution.executedPlan.toString
      assert(p1.contains("SortMergeJoin"), p1)
      assert(p1.contains(" Sort ["),
        s"retroactive sort-order declaration must NOT drop the SMJ Sorts:\n$p1")
      assert(j1.count() === 134L && checksum(join()) === expect)
      // REWRITE under the declaration: optimize re-clusters AND re-sorts
      // (write-path contract), the head snapshot holds only
      // post-declaration files — the report returns, Sorts vanish, exact
      Seq("rsp1", "rsp2").foreach(t => StagingMaintenance.optimize(
        spark, "stage_t", "ws", t, partitionBy = Some("bucket(4,k)")))
      val j2 = join()
      val p2 = j2.queryExecution.executedPlan.toString
      assert(p2.contains("SortMergeJoin") && !p2.contains("Exchange"), p2)
      assert(!p2.contains(" Sort ["),
        s"post-rewrite snapshot should report ordering (sort-free SMJ):\n$p2")
      assert(j2.count() === 134L && checksum(join()) === expect)
      // the marker must STAY while pre-declaration versions are readable
      // (time travel / RESTORE could resurrect their files)…
      assert(sidecar("rsp1").contains("#unsorted@"))
      // …and retire once VACUUM reclaims them
      Seq("rsp1", "rsp2").foreach(t =>
        spark.sql(s"CALL stage_t.vacuum('ws', '$t', 1)"))
      assert(!sidecar("rsp1").contains("#unsorted@"),
        s"vacuum should retire the provenance marker: ${sidecar("rsp1")}")
      assert(sidecar("rsp1").trim === "k", sidecar("rsp1"))
      val j3 = join()
      assert(!j3.queryExecution.executedPlan.toString.contains(" Sort ["))
      assert(j3.count() === 134L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    Seq("rsp1", "rsp2").foreach(t => spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t"))
  }

  test("shallow clone (r14): zero-copy creation, divergence, time-travel clone, vacuum safety both ways, drop bookkeeping") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    Seq("cdst", "cold", "csrc").foreach { t =>
      try spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t")
      catch { case _: IllegalStateException => () }
    }
    spark.sql("CREATE TABLE stage_t.ws.csrc AS SELECT id AS k, id * 3 AS v FROM range(0, 100)")
    spark.sql("INSERT INTO stage_t.ws.csrc SELECT id, id * 3 FROM range(100, 150)")
    val fs = new org.apache.hadoop.fs.Path(stageRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFilesIn(t: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$stageRoot/ws/$t"))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName).toSeq
    val srcFiles = dataFilesIn("csrc")
    assert(srcFiles.nonEmpty)
    // CLONE head: equal content, ZERO data bytes copied
    val r = spark.sql("CALL stage_t.clone('ws', 'csrc', 'cdst')").collect()(0)
    assert(r.getLong(0) === 2L && r.getInt(1) === srcFiles.size && r.getLong(2) === 1L, r.toString)
    assert(dataFilesIn("cdst").isEmpty, "shallow clone must copy no data files")
    assert(spark.table("stage_t.ws.cdst").count() === 150L)
    // TIME-TRAVEL clone of v1 (the pre-INSERT snapshot)
    spark.sql("CALL stage_t.clone('ws', 'csrc', 'cold', version => 1)")
    assert(spark.table("stage_t.ws.cold").count() === 100L)
    // divergence: the clone's own writes land in ITS directory; source unmoved
    spark.sql("INSERT INTO stage_t.ws.cdst SELECT id, id * 3 FROM range(1000, 1020)")
    assert(dataFilesIn("cdst").nonEmpty, "clone's own writes must land in its dir")
    assert(spark.table("stage_t.ws.cdst").count() === 170L)
    assert(spark.table("stage_t.ws.csrc").count() === 150L)
    // SOURCE-side vacuum safety: rewrite the source so the borrowed files
    // leave ITS head, then vacuum hard — the clones' registrations must
    // exempt them from reclamation
    spark.sql("INSERT OVERWRITE stage_t.ws.csrc SELECT id, id * 3 FROM range(0, 10)")
    spark.sql("CALL stage_t.vacuum('ws', 'csrc', 1)")
    assert(srcFiles.forall(f => fs.exists(
      new org.apache.hadoop.fs.Path(s"$stageRoot/ws/csrc/$f"))),
      "source vacuum reclaimed files a live clone still borrows")
    assert(spark.table("stage_t.ws.cdst").count() === 170L)
    assert(spark.table("stage_t.ws.cold").count() === 100L)
    // CLONE-side vacuum safety: age the borrowed refs out of the clone's
    // manifests and vacuum — the clone must never delete foreign files
    spark.sql("INSERT OVERWRITE stage_t.ws.cdst SELECT id, id * 3 FROM range(0, 5)")
    spark.sql("CALL stage_t.vacuum('ws', 'cdst', 1)")
    assert(srcFiles.forall(f => fs.exists(
      new org.apache.hadoop.fs.Path(s"$stageRoot/ws/csrc/$f"))),
      "clone-side vacuum deleted the SOURCE's files")
    assert(spark.table("stage_t.ws.cold").count() === 100L, "sibling clone broken")
    // DROP bookkeeping: the source refuses while clones live; clones
    // deregister on drop; then the source drops cleanly
    val e = intercept[Exception] {
      spark.sql("DROP TABLE stage_t.ws.csrc")
    }
    assert(e.getMessage.contains("clone"), e.getMessage)
    spark.sql("DROP TABLE stage_t.ws.cdst")
    spark.sql("DROP TABLE stage_t.ws.cold")
    spark.sql("DROP TABLE stage_t.ws.csrc") // no live clones left — succeeds
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$stageRoot/ws/csrc")))
  }

  test("shallow clone (r14): scope refusals — lineage; merge-on-read serves; clone-of-borrowing-clone legal") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    Seq("crx", "crc2", "crc", "crm", "crl").foreach { t =>
      try spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t")
      catch { case _: IllegalStateException => () }
    }
    spark.sql("CREATE TABLE stage_t.ws.crl TBLPROPERTIES ('graft.row-lineage'='true') " +
      "AS SELECT id AS k FROM range(0, 10)")
    val e1 = intercept[Exception] {
      spark.sql("CALL stage_t.clone('ws', 'crl', 'crx')") }
    assert(e1.getMessage.contains("row-lineage"), e1.getMessage)
    // merge-on-read sources clone since late r14 (descriptor transplant —
    // the dedicated MOR-clone test drives the full lifecycle); the quick
    // sanity here: the clone serves the snapshot and is itself MOR
    spark.sql("CREATE TABLE stage_t.ws.crm (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', 'graft.merge-keys'='k')")
    spark.sql("INSERT INTO stage_t.ws.crm SELECT id, id FROM range(0, 10)")
    spark.sql("CALL stage_t.clone('ws', 'crm', 'crmx')")
    assert(spark.table("stage_t.ws.crmx").count() === 10L)
    spark.sql("DROP TABLE stage_t.ws.crmx")
    // TRANSITIVE CHAIN (r14): cloning a still-borrowing clone is legal —
    // the grandchild registers at EVERY upstream, so even the ROOT's
    // vacuum keeps the chain readable after the intermediates diverge
    spark.sql("CREATE TABLE stage_t.ws.crc AS SELECT id AS k FROM range(0, 10)")
    spark.sql("CALL stage_t.clone('ws', 'crc', 'crc2')")
    spark.sql("CALL stage_t.clone('ws', 'crc2', 'crx')") // borrows from crc
    assert(spark.table("stage_t.ws.crx").count() === 10L)
    val fs2 = new org.apache.hadoop.fs.Path(stageRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs2.listStatus(new org.apache.hadoop.fs.Path(
        s"$stageRoot/ws/crc/_graft_clones"))
      .count(_.getPath.getName.startsWith("clone-")) === 2,
      "the grandchild must register at the root too")
    // chain SYNC: a root append flows A→B→C; the watermark rewrite must
    // preserve the grandchild's transitive registrations
    spark.sql("INSERT INTO stage_t.ws.crc SELECT id + 100 AS k FROM range(0, 5)")
    spark.sql("CALL stage_t.sync('ws', 'crc2')")
    spark.sql("CALL stage_t.sync('ws', 'crx')")
    assert(spark.table("stage_t.ws.crx").count() === 15L,
      "root append did not flow through the chain")
    // the intermediate ages the borrowed refs out of ITS manifests; the
    // root's vacuum must STILL keep the grandchild's borrowed files
    spark.sql("INSERT OVERWRITE stage_t.ws.crc2 SELECT id AS k FROM range(0, 3)")
    spark.sql("CALL stage_t.vacuum('ws', 'crc2', 1)")
    spark.sql("INSERT OVERWRITE stage_t.ws.crc SELECT id AS k FROM range(0, 2)")
    spark.sql("CALL stage_t.vacuum('ws', 'crc', 1)")
    assert(spark.table("stage_t.ws.crx").count() === 15L,
      "root vacuum broke the transitive chain")
    // root drop refuses while ANY chain member borrows; children first
    val e5 = intercept[Exception] { spark.sql("DROP TABLE stage_t.ws.crc") }
    assert(e5.getMessage.contains("clone"), e5.getMessage)
    Seq("crx", "crc2", "crc", "crm", "crl").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t"))
  }

  test("clone sync (r14): zero-copy incremental refresh absorbs source appends, is idempotent, and refuses rewrites and vacuumed gaps") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    Seq("syd", "sys").foreach { t =>
      try spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t")
      catch { case _: IllegalStateException => () }
    }
    spark.sql("CREATE TABLE stage_t.ws.sys AS SELECT id AS k, id * 3 AS v FROM range(0, 50)")
    spark.sql("CALL stage_t.clone('ws', 'sys', 'syd')")
    spark.sql("INSERT INTO stage_t.ws.sys SELECT id, id * 3 FROM range(50, 80)")
    spark.sql("INSERT INTO stage_t.ws.sys SELECT id, id * 3 FROM range(80, 100)")
    val r = spark.sql("CALL stage_t.sync('ws', 'syd')").collect()(0)
    assert(r.getLong(0) === 1L && r.getLong(1) === 3L && r.getLong(2) > 0L, r.toString)
    assert(spark.table("stage_t.ws.syd").count() === 100L)
    val fs = new org.apache.hadoop.fs.Path(stageRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(s"$stageRoot/ws/syd"))
      .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet")),
      "sync must borrow, not copy")
    // divergence rides along; a second sync with nothing new is a no-op
    spark.sql("INSERT INTO stage_t.ws.syd SELECT id, id * 3 FROM range(1000, 1010)")
    val r2 = spark.sql("CALL stage_t.sync('ws', 'syd')").collect()(0)
    assert(r2.getLong(2) === 0L && r2.getLong(3) === -1L, r2.toString)
    assert(spark.table("stage_t.ws.syd").count() === 110L)
    // a source rewrite breaks the append-only contract
    spark.sql("INSERT OVERWRITE stage_t.ws.sys SELECT id, id * 3 FROM range(0, 5)")
    val e = intercept[Exception] { spark.sql("CALL stage_t.sync('ws', 'syd')") }
    assert(e.getMessage.contains("re-clone"), e.getMessage)
    // the clone still serves everything it had absorbed
    assert(spark.table("stage_t.ws.syd").count() === 110L)
    // not-a-clone refusal
    val e2 = intercept[Exception] { spark.sql("CALL stage_t.sync('ws', 'sys')") }
    assert(e2.getMessage.contains("not a shallow clone"), e2.getMessage)
    spark.sql("DROP TABLE stage_t.ws.syd")
    spark.sql("DROP TABLE stage_t.ws.sys")
  }

  test("history purge (r14): rows leave EVERY readable version; zone maps scope the rewrite; history and untouched files survive") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.prg")
    spark.sql("CREATE TABLE stage_t.ws.prg AS SELECT id AS k, id * 2 AS v FROM range(0, 100)")
    spark.sql("INSERT INTO stage_t.ws.prg SELECT id, id * 2 FROM range(100, 200)")
    spark.sql("CALL stage_t.analyze('ws', 'prg', 'k')")
    spark.sql("CALL stage_t.tag('ws', 'prg', 'pre', 1)")
    val fs = new org.apache.hadoop.fs.Path(stageRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifestNames(v: Long): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(
        s"$stageRoot/ws/prg/_graft_versions/v$v.json")
      val in = fs.open(p)
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      "\"files\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt).get.group(1)
        .split(',').map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
        .filter(_.nonEmpty)
    }
    val v1Files = manifestNames(1L)
    // PRUNED purge: k >= 150 can only live in v2's files — v1's manifest
    // and files must come through byte-identical (zone maps scope the op)
    val r1 = spark.sql("CALL stage_t.purge('ws', 'prg', 'k >= 150')").collect()(0)
    assert(r1.getLong(2) === 50L, s"rows_purged: $r1")
    assert(r1.getInt(3) === 1, s"only v2's manifest holds v2 files: $r1")
    assert(manifestNames(1L) === v1Files, "pruned purge touched v1's manifest")
    assert(v1Files.forall(f => fs.exists(
      new org.apache.hadoop.fs.Path(s"$stageRoot/ws/prg/$f"))))
    assert(spark.table("stage_t.ws.prg").count() === 150L)
    // UNPRUNABLE-version purge: k < 30 lives in v1 files, which BOTH
    // manifests reference — rows leave the current head, the v1 snapshot,
    // and the tag-resolved read alike; history length is unchanged
    val r2 = spark.sql("CALL stage_t.purge('ws', 'prg', 'k < 30')").collect()(0)
    assert(r2.getLong(2) === 30L && r2.getInt(3) === 2, r2.toString)
    assert(spark.table("stage_t.ws.prg").count() === 120L)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.prg VERSION AS OF 1")
      .collect()(0).getLong(0) === 70L,
      "purged rows still readable through time travel")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.prg VERSION AS OF 'pre'")
      .collect()(0).getLong(0) === 70L,
      "purged rows still readable through the tag")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.prg.snapshots")
      .collect()(0).getLong(0) === 2L, "purge must not shorten history")
    assert(spark.table("stage_t.ws.prg")
      .agg(min(col("k"))).collect()(0).getLong(0) === 30L)
    // the change feed re-derives WITHOUT the purged rows
    val cdf = graft.sources.catalog.StagingMaintenance
      .changesBetween(spark, "stage_t", "ws", "prg", 1L, 2L)
    assert(cdf.filter(col("k") < 30 || col("k") >= 150).count() === 0L,
      "change feed still serves purged rows")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.prg")
  }

  test("distributed equality-delete key bins (r14): over-cap keyed DELETE spills to executor bins; reads, ghosts, UPDATE overlap, CDF, time travel, fold, vacuum all exact") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.kdb")
    spark.sql("CREATE TABLE stage_t.ws.kdb (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', 'graft.merge-keys'='k')")
    spark.sql("INSERT INTO stage_t.ws.kdb " +
      "SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id * 10 FROM range(0, 1000)")
    def files(): Set[String] = StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "kdb").toSet
    def dvs(): Seq[String] = StagingMaintenance
      .activeDvs(spark, "stage_t", "ws", "kdb")
    val f0 = files()
    val capKey = "spark.graft.key-delete.max-inline-keys"
    val saved = spark.conf.getOption(capKey)
    spark.conf.set(capKey, "16")
    try {
      // over-cap keyed DELETE: every task spills its keys to a bin; the
      // driver commits ONE dvk- descriptor, zero files move
      spark.sql("DELETE FROM stage_t.ws.kdb WHERE k % 3 = 1")
      assert(ZoneMapScan.lastKeyDeleteMode === Some("dv-keyrun"),
        s"over-cap delete stayed inline: ${ZoneMapScan.lastKeyDeleteMode}")
      assert(files() === f0, "distributed key delete moved data files")
      assert(dvs().size === 1 && dvs().head.startsWith("dvk-"), dvs().toString)
      val t = spark.table("stage_t.ws.kdb")
      assert(t.count() === 667L)
      assert(t.filter(col("k") % 3 === 1).count() === 0L,
        "keyrun-suppressed rows still visible")
      // ghost no-rematch: the same band again matches NOTHING (the locate
      // scan reads through the keyrun) — no second descriptor
      spark.sql("DELETE FROM stage_t.ws.kdb WHERE k % 3 = 1 AND v >= 0")
      assert(dvs().size === 1, s"ghost rows re-matched: ${dvs()}")
      // overlapping over-cap UPDATE: replaced keys spill too; replacements
      // land as fresh rows and survive their own statement's descriptor
      spark.sql("UPDATE stage_t.ws.kdb SET v = v + 1 WHERE k % 5 = 0")
      assert(ZoneMapScan.lastKeyDeleteMode === Some("dv-keyrun"))
      assert(spark.table("stage_t.ws.kdb").count() === 667L)
      val expSum = (0L until 1000L).filter(_ % 3 != 1)
        .map(k => k * 10 + (if (k % 5 == 0) 1 else 0)).sum
      def sumV(): Long = spark.table("stage_t.ws.kdb")
        .agg(sum(col("v"))).collect()(0).getLong(0)
      assert(sumV() === expSum)
      // time travel reads v1 pre-delete, and v2 through its key bins
      assert(spark.sql("SELECT count(*) FROM stage_t.ws.kdb VERSION AS OF 1")
        .collect()(0).getLong(0) === 1000L)
      assert(spark.sql("SELECT count(*) FROM stage_t.ws.kdb VERSION AS OF 2")
        .collect()(0).getLong(0) === 667L, "pinned read resurrected keyrun-deleted rows")
      // the change feed derives the keyrun delete exactly (executor-side
      // anti-join inside the CDF diff)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_kdbcdf").toString
      val dels = new java.util.concurrent.atomic.AtomicLong
      val ins = new java.util.concurrent.atomic.AtomicLong
      val q = spark.readStream.table("stage_t.ws.kdb.changes")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          dels.addAndGet(b.filter(col("_change_type") === "delete").count())
          ins.addAndGet(b.filter(col("_change_type") === "insert").count()); ()
        }.start()
      q.awaitTermination()
      // v1: 1000 inserts; v2: 333 keyrun deletes; v3: 134 update pre/post
      // pairs ride as update_* types (not bare deletes/inserts)
      assert(ins.get() === 1000L, s"inserts: ${ins.get()}")
      assert(dels.get() === 333L, s"keyrun deletes in the feed: ${dels.get()}")
      // the fold rewrites survivors and drops every descriptor — driven
      // with broadcast DISABLED so the two descriptors' anti-joins really
      // shuffle (the scale shape; provenance columns must be materialized
      // pre-exchange, not re-evaluated as input_file_name after it)
      val bKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val bSaved = bKeys.map(k => k -> spark.conf.getOption(k))
      bKeys.foreach(k => spark.conf.set(k, "-1"))
      try {
        StagingMaintenance.optimize(spark, "stage_t", "ws", "kdb")
      } finally bSaved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      assert(dvs().isEmpty, s"fold left descriptors: ${dvs()}")
      assert(spark.table("stage_t.ws.kdb").count() === 667L && sumV() === expSum)
      // vacuum reclaims the unreferenced descriptor dirs
      spark.conf.set("spark.graft.vacuum.temp-ttl-ms", "0")
      try {
        Thread.sleep(5)
        spark.sql("CALL stage_t.vacuum('ws', 'kdb', 1)")
      } finally spark.conf.unset("spark.graft.vacuum.temp-ttl-ms")
      val fs = new org.apache.hadoop.fs.Path(stageRoot)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val dvDir = new org.apache.hadoop.fs.Path(s"$stageRoot/ws/kdb/_graft_dv")
      val left =
        (try fs.listStatus(dvDir).toIndexedSeq
         catch { case _: java.io.FileNotFoundException => IndexedSeq.empty })
          .map(_.getPath.getName).filter(_.startsWith("dvk-"))
      assert(left.isEmpty, s"vacuum kept keyrun artifacts: $left")
    } finally saved match {
      case Some(v) => spark.conf.set(capKey, v)
      case None    => spark.conf.unset(capKey)
    }
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.kdb")
  }

  test("keyrun × lineage (r14): over-cap keyed delete on a lineage table spills to bins; _row_id faces, identity preservation, and the fold stay exact") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.klb")
    spark.sql("CREATE TABLE stage_t.ws.klb (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', " +
      "'graft.merge-keys'='k', 'graft.row-lineage'='true')")
    spark.sql("INSERT INTO stage_t.ws.klb " +
      "SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id * 10 FROM range(0, 300)")
    def ids(): Map[Long, Long] = StagingMaintenance
      .readLineage(spark, "stage_t", "ws", "klb")
      .selectExpr("k", "_row_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dvs(): Seq[String] = StagingMaintenance
      .activeDvs(spark, "stage_t", "ws", "klb")
    val v1 = ids()
    assert(v1.size === 300 && v1.values.toSet.size === 300)
    val capKey = "spark.graft.key-delete.max-inline-keys"
    val saved = spark.conf.getOption(capKey)
    spark.conf.set(capKey, "16")
    try {
      val f0 = StagingMaintenance
        .currentFileNames(spark, "stage_t", "ws", "klb").toSet
      spark.sql("DELETE FROM stage_t.ws.klb WHERE k % 3 = 1")
      assert(ZoneMapScan.lastKeyDeleteMode === Some("dv-keyrun"))
      assert(StagingMaintenance
        .currentFileNames(spark, "stage_t", "ws", "klb").toSet === f0)
      assert(dvs().size === 1 && dvs().head.startsWith("dvk-"), dvs().toString)
      // both _row_id faces resolve THROUGH the bins: survivors only,
      // identities unchanged
      val v2 = ids() // maintenance face (readLineage)
      assert(v2.size === 200 && v2 === v1.filter { case (k, _) => k % 3 != 1 },
        "keyrun delete re-identified or leaked rows on the lineage face")
      val sqlIds = spark.sql("SELECT k, _row_id FROM stage_t.ws.klb")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sqlIds === v2, "SQL _row_id face diverged from the lineage read")
      // over-cap UPDATE: replaced keys spill, replacement rows KEEP ids
      spark.sql("UPDATE stage_t.ws.klb SET v = v + 7 WHERE k % 5 = 0")
      assert(ZoneMapScan.lastKeyDeleteMode === Some("dv-keyrun"))
      val v3 = ids()
      assert(v3 === v2, "keyrun UPDATE re-identified rows")
      // survivors with k%5==0: 60 minus the 20 in the deleted k%3==1 band
      assert(spark.sql(
        "SELECT count(*) FROM stage_t.ws.klb WHERE v % 10 = 7")
        .collect()(0).getLong(0) === 40L, "keyrun UPDATE lost its writes")
      // fold: descriptors drop, identities persist physically
      StagingMaintenance.optimize(spark, "stage_t", "ws", "klb")
      assert(dvs().isEmpty)
      assert(ids() === v2, "the fold re-identified rows")
    } finally saved match {
      case Some(v) => spark.conf.set(capKey, v)
      case None    => spark.conf.unset(capKey)
    }
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.klb")
  }

  test("sort-order readmission (r14): a sorted keyless-MOR table reports ordering; a delta withdraws it; the OPTIMIZE fold re-admits it") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    def mk(name: String, filter: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$name")
      spark.sql(s"CREATE TABLE stage_t.ws.$name (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES " +
        "('graft.sort-order'='k', 'graft.write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO stage_t.ws.$name " +
        s"SELECT id, id * 7 FROM range(0, 400) WHERE $filter")
      StagingMaintenance.optimize(spark, "stage_t", "ws", name,
        partitionBy = Some("bucket(4,k)"))
    }
    mk("mso1", "true")
    mk("mso2", "id % 3 = 0")
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def join() = spark.sql(
        "SELECT x.k FROM stage_t.ws.mso1 x JOIN stage_t.ws.mso2 y ON x.k = y.k")
      // the r13 blanket exclusion kept every MOR table sort-heavy; with
      // delta files tracked by provenance, a compacted MOR table's
      // bucketed SMJ is sort-free AND exchange-free
      val p1 = join().queryExecution.executedPlan.toString
      assert(p1.contains("SortMergeJoin") && !p1.contains("Exchange") &&
        !p1.contains(" Sort ["),
        s"compacted sorted MOR table should report ordering:\n$p1")
      assert(join().count() === 134L)
      // a position-delta UPDATE lands a writer-shaped replacement file —
      // the report withdraws (and the DV also withdraws SPJ); exactness holds
      spark.sql("UPDATE stage_t.ws.mso1 SET v = v + 1 WHERE k % 7 = 3")
      val p2 = join().queryExecution.executedPlan.toString
      assert(p2.contains(" Sort ["),
        s"delta'd MOR table must not claim ordering:\n$p2")
      assert(join().count() === 134L)
      // the fold rewrites everything planner-sorted — readmitted
      StagingMaintenance.optimize(spark, "stage_t", "ws", "mso1",
        partitionBy = Some("bucket(4,k)"))
      val p3 = join().queryExecution.executedPlan.toString
      assert(p3.contains("SortMergeJoin") && !p3.contains("Exchange") &&
        !p3.contains(" Sort ["),
        s"folded MOR table should be re-admitted:\n$p3")
      assert(join().count() === 134L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    Seq("mso1", "mso2").foreach(t => spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t"))
  }

  test("keyless update-mode escape hatch (r14): copy-on-write routes UPDATE through the group rewrite; flipping back restores position deltas") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.umode")
    spark.sql("CREATE TABLE stage_t.ws.umode (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', " +
      "'graft.update.mode'='copy-on-write')")
    spark.sql("INSERT INTO stage_t.ws.umode SELECT id, id FROM range(0, 100)")
    def files(): Set[String] = StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "umode").toSet
    def dvs(): Seq[String] = StagingMaintenance
      .activeDvs(spark, "stage_t", "ws", "umode")
    def sumV(): Long = spark.table("stage_t.ws.umode")
      .agg(sum(col("v"))).collect()(0).getLong(0)
    val base = (0L until 100L).sum
    // COPY-ON-WRITE mode: the untranslatable UPDATE rewrites matched
    // files — no descriptor, original files replaced
    val f0 = files()
    spark.sql("UPDATE stage_t.ws.umode SET v = v + 1000 WHERE k % 7 = 3")
    assert(dvs().isEmpty, s"copy-on-write UPDATE minted a descriptor: ${dvs()}")
    assert(files() != f0, "copy-on-write UPDATE left the file set unchanged")
    val hits1 = (0L until 100L).count(_ % 7 == 3)
    assert(sumV() === base + 1000L * hits1)
    // flip back: deltas again — zero rewrites, one run descriptor
    spark.sql("ALTER TABLE stage_t.ws.umode " +
      "SET TBLPROPERTIES ('graft.update.mode'='position-delta')")
    val f1 = files()
    spark.sql("UPDATE stage_t.ws.umode SET v = v + 1000 WHERE k % 7 = 5")
    assert(f1.subsetOf(files()), "position-delta UPDATE rewrote carried files")
    assert(dvs().size === 1, s"expected one descriptor: ${dvs()}")
    val hits2 = (0L until 100L).count(_ % 7 == 5)
    assert(sumV() === base + 1000L * (hits1 + hits2))
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.umode")
  }

  test("pos-delta rebase conflicts (r14): a branch run-descriptor over files main rewrote refuses; main's pos-delete over files the branch rewrote refuses") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    def mkMor(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$name")
      spark.sql(s"CREATE TABLE stage_t.ws.$name (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('graft.write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO stage_t.ws.$name SELECT id, id FROM range(0, 100)")
      spark.sql(s"CALL stage_t.branch('ws', '$name', 'w')")
    }
    // A: branch lands a POS-DELTA (run descriptor over the fork files);
    // main OPTIMIZE rewrites those files — the replay must refuse (the
    // descriptor's ordinals are meaningless over the rewritten layout)
    mkMor("rcA")
    spark.sql("UPDATE stage_t.ws.rcA.branch_w SET v = v + 1 WHERE k % 7 = 3")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "rcA")
    val eA = intercept[Exception] {
      spark.sql("CALL stage_t.rebase('ws', 'rcA', 'w')") }
    assert(eA.getMessage.contains("rebase conflict") &&
      eA.getMessage.contains("main has since rewritten"), eA.getMessage)
    // B: main lands a POS-DELETE over the fork files; the branch rewrote
    // them (cap-forced COW fallback) — refuse in the other direction
    mkMor("rcB")
    // the update-mode escape hatch (r14) forces the branch DELETE through
    // the group REWRITE (file removal) instead of a position delta
    spark.sql("ALTER TABLE stage_t.ws.rcB " +
      "SET TBLPROPERTIES ('graft.update.mode'='copy-on-write')")
    spark.sql("DELETE FROM stage_t.ws.rcB.branch_w WHERE k % 3 = 1")
    spark.sql("ALTER TABLE stage_t.ws.rcB " +
      "SET TBLPROPERTIES ('graft.update.mode'='position-delta')")
    // main lands a position-delta DELETE over the SAME fork files
    spark.sql("DELETE FROM stage_t.ws.rcB WHERE k % 5 = 2")
    val eB = intercept[Exception] {
      spark.sql("CALL stage_t.rebase('ws', 'rcB', 'w')") }
    assert(eB.getMessage.contains("rebase conflict") &&
      eB.getMessage.contains("branch rewrote"), eB.getMessage)
    Seq("rcA", "rcB").foreach(t => spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t"))
  }

  test("clone combos (r14): tag and branch-face clones; streaming read from a clone; schema-drift sync refusal") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    Seq("syc_t", "syc_b", "syc").foreach { t =>
      try spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t")
      catch { case _: IllegalStateException => () }
    }
    spark.sql("CREATE TABLE stage_t.ws.syc AS SELECT id AS k, id * 3 AS v FROM range(0, 40)")
    spark.sql("CALL stage_t.tag('ws', 'syc', 'gold')")
    spark.sql("INSERT INTO stage_t.ws.syc SELECT id, id * 3 FROM range(40, 60)")
    spark.sql("CALL stage_t.branch('ws', 'syc', 'wap')")
    spark.sql("INSERT INTO stage_t.ws.syc.branch_wap SELECT id, id * 3 FROM range(60, 70)")
    // TAG clone pins the tagged snapshot; BRANCH clone takes the branch head
    spark.sql("CALL stage_t.clone('ws', 'syc', 'syc_t', tag => 'gold')")
    spark.sql("CALL stage_t.clone('ws', 'syc', 'syc_b', branch => 'wap')")
    assert(spark.table("stage_t.ws.syc_t").count() === 40L)
    assert(spark.table("stage_t.ws.syc_b").count() === 70L)
    assert(spark.table("stage_t.ws.syc").count() === 60L)
    // a BRANCH-sourced clone's watermark is branch-log numbering — a
    // main-log sync would absorb the wrong delta, so it refuses
    val eb = intercept[Exception] { spark.sql("CALL stage_t.sync('ws', 'syc_b')") }
    assert(eb.getMessage.contains("BRANCH"), eb.getMessage)
    // a clone is a full table: its streaming face drains the borrowed files
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_clstr").toString
    val n = new java.util.concurrent.atomic.AtomicLong
    val q = spark.readStream.table("stage_t.ws.syc_t")
      .writeStream.option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        n.addAndGet(b.count()); ()
      }.start()
    q.awaitTermination()
    assert(n.get() === 40L, s"clone stream drained ${n.get()} rows")
    // schema drift on the source refuses sync (borrowed files written
    // under the evolved schema would mis-read through the copied one)
    spark.sql("ALTER TABLE stage_t.ws.syc ADD COLUMN extra BIGINT")
    val e = intercept[Exception] { spark.sql("CALL stage_t.sync('ws', 'syc_t')") }
    assert(e.getMessage.contains("schema"), e.getMessage)
    Seq("syc_t", "syc_b", "syc").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t"))
  }

  test("purge combos (r14): bucketed sorted layouts keep their sort-free SMJ after a purge; branch logs are scrubbed too") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    def mk(name: String, filter: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$name")
      spark.sql(s"CREATE TABLE stage_t.ws.$name (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('graft.sort-order'='k')")
      spark.sql(s"INSERT INTO stage_t.ws.$name " +
        s"SELECT id, id * 7 FROM range(0, 400) WHERE $filter")
      StagingMaintenance.optimize(spark, "stage_t", "ws", name,
        partitionBy = Some("bucket(4,k)"))
    }
    mk("pqs1", "true")
    mk("pqs2", "id % 3 = 0")
    // purge the top band from both — twins must stay per-file sorted and
    // inside their bucket directories
    Seq("pqs1", "pqs2").foreach(t =>
      spark.sql(s"CALL stage_t.purge('ws', '$t', 'k >= 390')"))
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql(
        "SELECT x.k, x.v AS va, y.v AS vb FROM stage_t.ws.pqs1 x " +
          "JOIN stage_t.ws.pqs2 y ON x.k = y.k")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") && !p.contains("Exchange"), p)
      assert(!p.contains(" Sort ["),
        s"purge must preserve the sorted-layout report (sort-free SMJ):\n$p")
      val rows = j.collect()
      assert(rows.length === 130) // multiples of 3 in [0, 390)
      assert(rows.forall(r => r.getLong(1) === r.getLong(0) * 7 &&
        r.getLong(2) === r.getLong(0) * 7), "post-purge SMJ mis-joined")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    // branch logs are part of readable history: a purge scrubs them too
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pqb")
    spark.sql("CREATE TABLE stage_t.ws.pqb AS SELECT id AS k FROM range(0, 50)")
    spark.sql("CALL stage_t.branch('ws', 'pqb', 'w')")
    spark.sql("INSERT INTO stage_t.ws.pqb.branch_w SELECT id FROM range(100, 120)")
    val r = spark.sql("CALL stage_t.purge('ws', 'pqb', 'k >= 110')").collect()(0)
    assert(r.getLong(2) === 10L, r.toString)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.pqb.branch_w")
      .collect()(0).getLong(0) === 60L, "branch face still serves purged rows")
    assert(spark.table("stage_t.ws.pqb").count() === 50L)
    // RETROACTIVE declaration × purge: the twin of a provenance-UNPROVEN
    // file preserves its (unsorted) order under a fresh name — it must
    // re-enter the marker, or the ordering report would falsely re-admit
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pqr")
    spark.sql("CREATE TABLE stage_t.ws.pqr (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO stage_t.ws.pqr " +
      "SELECT (id * 77) % 400, id FROM range(0, 400)")
    spark.sql("ALTER TABLE stage_t.ws.pqr SET TBLPROPERTIES ('graft.sort-order'='k')")
    spark.sql("CALL stage_t.purge('ws', 'pqr', 'k >= 100')")
    val soTxt = sortOrderText(s"$stageRoot/ws/pqr")
    assert(soTxt.contains("purge-"),
      s"unproven twin missing from the provenance marker:\n$soTxt")
    assert(spark.table("stage_t.ws.pqr").count() === 100L)
    Seq("pqs1", "pqs2", "pqb", "pqr").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t"))
  }

  test("history purge (r14): refusals — live clones, borrowing clone; lineage and keyed DV'd history serve") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    Seq("pgc2", "pgc", "pgl", "pgm").foreach { t =>
      try spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t")
      catch { case _: IllegalStateException => () }
    }
    // lineage no longer refuses (r14): survivors materialize their ids
    // into the twins, so identities survive the row drop verbatim
    spark.sql("CREATE TABLE stage_t.ws.pgl TBLPROPERTIES ('graft.row-lineage'='true') " +
      "AS SELECT id AS k FROM range(0, 10)")
    val idsBefore = spark.sql("SELECT k, _row_id FROM stage_t.ws.pgl")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sql("CALL stage_t.purge('ws', 'pgl', 'k = 3')")
    val idsAfter = spark.sql("SELECT k, _row_id FROM stage_t.ws.pgl")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idsAfter === (idsBefore - 3L),
      s"lineage purge re-identified rows: $idsBefore -> $idsAfter")
    spark.sql("CREATE TABLE stage_t.ws.pgm (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', 'graft.merge-keys'='k')")
    spark.sql("INSERT INTO stage_t.ws.pgm SELECT id, id FROM range(0, 10)")
    spark.sql("DELETE FROM stage_t.ws.pgm WHERE k = 5") // mints a DV
    // DV-carrying history no longer refuses (r14): the equality descriptor
    // follows the rewrite by name substitution — k=5 stays suppressed at
    // the head, k=3 leaves every readable version
    spark.sql("CALL stage_t.purge('ws', 'pgm', 'k = 3')")
    assert(spark.table("stage_t.ws.pgm").count() === 8L,
      "keyed purge broke the head read (DV lost or rows resurrected)")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.pgm VERSION AS OF 1")
      .collect()(0).getLong(0) === 9L, "purged row still readable at v1")
    spark.sql("CREATE TABLE stage_t.ws.pgc AS SELECT id AS k FROM range(0, 10)")
    spark.sql("CALL stage_t.clone('ws', 'pgc', 'pgc2')")
    val e3 = intercept[Exception] {
      spark.sql("CALL stage_t.purge('ws', 'pgc', 'k = 3')") }
    assert(e3.getMessage.contains("clone"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql("CALL stage_t.purge('ws', 'pgc2', 'k = 3')") }
    assert(e4.getMessage.contains("borrow"), e4.getMessage)
    Seq("pgc2", "pgc", "pgl", "pgm").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t"))
  }

  test("bucket re-spec: a retired same-prefix spec withdraws the SPJ report") {
    // the aliasing hazard the SPJ candidate guards structurally: after
    // bucket(4,k) → bucket(8,k) evolution, the old residue dirs (0..3)
    // would PARSE as valid bucket(8) residues — but a bucket(4) r=3 file
    // holds keys with bucket(8) residues {3, 7}, so grouping it as
    // residue 3 would silently drop matches. The candidate must withdraw
    // whenever a retired spec shares the layout prefix.
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_r")
    spark.sql("CREATE TABLE stage_t.ws.spj_r (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO stage_t.ws.spj_r SELECT id, id FROM range(0, 1000)")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_r", partitionBy = Some("bucket(4,k)"))
    spark.sql("CALL stage_t.set_partition_spec('ws', 'spj_r', 'bucket(8,k)')")
    assert(spark.sql("SHOW TBLPROPERTIES stage_t.ws.spj_r").collect()
      .exists(r => r.getString(0) == "graft.partition.retired" &&
        r.getString(1) == "bucket(4,k)"))
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(kk => kk -> spark.conf.getOption(kk))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql(
        "SELECT a.k FROM stage_t.ws.spj_r a JOIN stage_t.ws.spj_r b ON a.k = b.k")
      assert(j.queryExecution.executedPlan.toString.contains("Exchange"),
        "re-specced table must NOT report the old layout as bucket(8)")
      assert(j.count() === 1000)
    } finally saved.foreach {
      case (kk, Some(v)) => spark.conf.set(kk, v)
      case (kk, None)    => spark.conf.unset(kk)
    }
  }

  test("bucket re-spec: path pruning keeps old-layout files (no silent row loss)") {
    // the PRUNING twin of the SPJ-withdrawal case above: after
    // bucket(4,k) → bucket(8,k), an old bucket(4) file in k_bucket=3/
    // holds k=7 (7%4=3) but the current spec's residue for 7 is 7 — a
    // pruner that attributes the dir to bucket(8) drops the file and
    // SELECT / DELETE WHERE k=7 silently lose rows. Ambiguous-prefix
    // specs must contribute nothing to pruning.
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.prune_r")
    spark.sql("CREATE TABLE stage_t.ws.prune_r (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO stage_t.ws.prune_r SELECT id, id * 10 FROM range(0, 1000)")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "prune_r", partitionBy = Some("bucket(4,k)"))
    spark.sql("CALL stage_t.set_partition_spec('ws', 'prune_r', 'bucket(8,k)')")
    // k=7 lives only in an OLD-layout file (k_bucket=3/); current-spec
    // residue is 7 — the unsound pruner returns zero rows here
    val hit = spark.sql("SELECT k, v FROM stage_t.ws.prune_r WHERE k = 7").collect()
    assert(hit.length === 1 && hit(0).getLong(1) === 70,
      "bucket re-spec must not prune old-layout files under the shared prefix")
    // an IN probe crossing both residue families
    assert(spark.sql(
      "SELECT count(*) FROM stage_t.ws.prune_r WHERE k IN (7, 11, 16)")
      .collect()(0).getLong(0) === 3)
    // DML scoping rides the same touched/untouched split: DELETE WHERE k=7
    // must actually remove the row, not no-op on a mis-pruned scope
    spark.sql("DELETE FROM stage_t.ws.prune_r WHERE k = 7")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.prune_r WHERE k = 7")
      .collect()(0).getLong(0) === 0)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.prune_r")
      .collect()(0).getLong(0) === 999)
    // new-layout files (written AFTER the re-spec, unambiguously owned by
    // bucket(8) once the old family is gone) still prune: a fresh table
    // with no retired spec keeps exact-bucket skipping — here we just
    // prove correctness is intact post-delete for a second probe
    assert(spark.sql("SELECT v FROM stage_t.ws.prune_r WHERE k = 11")
      .collect()(0).getLong(0) === 110)
  }

  test("storage-partitioned aggregation: identity-laid-out table groups with ZERO Exchange") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_i")
    spark.sql("CREATE TABLE stage_t.ws.spj_i (g BIGINT, v BIGINT) PARTITIONED BY (g)")
    spark.sql("INSERT INTO stage_t.ws.spj_i SELECT id % 5, id FROM range(0, 1000)")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_i", partitionBy = Some("g"))
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val agg = spark.sql(
        "SELECT g, count(*) AS n, CAST(sum(v) AS BIGINT) AS sv FROM stage_t.ws.spj_i GROUP BY g")
      val p = agg.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"identity-grouped aggregation shuffled:\n$p")
      val rows = agg.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(rows.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
      assert(rows.forall(_._2 == 200L))
      assert(rows.map(_._3).sum === (0L until 1000L).sum)
      // a NULL identity value lands in the default-partition dir: the
      // report withdraws (unparseable key), the plan shuffles, results exact
      spark.sql("INSERT INTO stage_t.ws.spj_i VALUES (NULL, 7)")
      StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_i", partitionBy = Some("g"))
      val agg2 = spark.sql(
        "SELECT count(*) AS n FROM stage_t.ws.spj_i GROUP BY g")
      assert(agg2.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(spark.table("stage_t.ws.spj_i").count() === 1001)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None    => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("SPJ string identity: escaped dir values round-trip, zero-Exchange GROUP BY, NULL-dir withdraws") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_s")
    spark.sql("CREATE TABLE stage_t.ws.spj_s (lang STRING, v BIGINT) PARTITIONED BY (lang)")
    // one value needs Hive path escaping ('=' and ':' escape to %XX dirs)
    spark.sql("INSERT INTO stage_t.ws.spj_s SELECT " +
      "CASE id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'pt-BR' WHEN 2 THEN 'zh=TW:x' " +
      "ELSE 'de' END, id FROM range(0, 1000)")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_s", partitionBy = Some("lang"))
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val agg = spark.sql(
        "SELECT lang, count(*) AS n, CAST(sum(v) AS BIGINT) AS sv " +
          "FROM stage_t.ws.spj_s GROUP BY lang")
      val p = agg.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"string-identity-grouped aggregation shuffled:\n$p")
      val rows = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows === Map("en" -> 250L, "pt-BR" -> 250L, "zh=TW:x" -> 250L, "de" -> 250L),
        s"escaped dir value did not round-trip: $rows")
      // a stray (non-laid-out) append withdraws the report — plan shuffles,
      // result exact
      spark.sql("INSERT INTO stage_t.ws.spj_s VALUES ('en', 9999)")
      val agg2 = spark.sql("SELECT lang, count(*) AS n FROM stage_t.ws.spj_s GROUP BY lang")
      assert(agg2.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(agg2.collect().map(r => r.getLong(1)).sum === 1001L)
      // a NULL value lands in the default-partition dir after re-layout:
      // the report withdraws (no partition value can express NULL)
      spark.sql("INSERT INTO stage_t.ws.spj_s VALUES (NULL, 1)")
      StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_s", partitionBy = Some("lang"))
      val agg3 = spark.sql("SELECT lang, count(*) AS n FROM stage_t.ws.spj_s GROUP BY lang")
      assert(agg3.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(spark.table("stage_t.ws.spj_s").count() === 1002)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None    => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_s")
  }

  test("SPJ compatible bucket counts: bucket(8)⋈bucket(4) joins with ZERO Exchange via residue reduction") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_c8")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_c4")
    spark.sql("CREATE TABLE stage_t.ws.spj_c8 (k BIGINT, va BIGINT) PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO stage_t.ws.spj_c8 SELECT id, id * 2 FROM range(0, 1000)")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_c8", partitionBy = Some("bucket(8,k)"))
    spark.sql("CREATE TABLE stage_t.ws.spj_c4 (k BIGINT, vb BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO stage_t.ws.spj_c4 SELECT id, id * 3 FROM range(0, 1000, 2)")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_c4", partitionBy = Some("bucket(4,k)"))
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(kk => kk -> spark.conf.getOption(kk))
    keys.take(3).foreach(spark.conf.set(_, "true"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql(
        "SELECT a.k, va, vb FROM stage_t.ws.spj_c8 a JOIN stage_t.ws.spj_c4 b ON a.k = b.k")
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucket(8)⋈bucket(4) planned a shuffle despite compatible transforms:\n$p")
      assert(j.count() === 500L)
      val chk = j.agg(sum(col("va") * col("vb"))).collect()(0).getLong(0)
      val exp = (0L until 1000L by 2).map(i => (i * 2) * (i * 3)).sum
      assert(chk === exp, "compatible-bucket SPJ join lost or duplicated rows")
    } finally saved.foreach {
      case (kk, Some(v)) => spark.conf.set(kk, v)
      case (kk, None)    => spark.conf.unset(kk)
    }
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_c8")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_c4")
  }

  test("SPJ partially-clustered: a viral bucket fans across tasks while the join stays exchange-free") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_h")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_d")
    spark.sql("CREATE TABLE stage_t.ws.spj_h (k BIGINT, va BIGINT) PARTITIONED BY (bucket(4, k))")
    // viral bucket: ~all rows hash to residue 1 (k ≡ 1 mod 4); enough rows
    // that the laid-out bucket-1 file spans MANY split boundaries
    spark.sql("INSERT INTO stage_t.ws.spj_h " +
      "SELECT 1 + 4 * id, id FROM range(0, 200000) " +
      "UNION ALL SELECT id % 4 + 400000000 + id * 4, id FROM range(0, 40)")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_h", partitionBy = Some("bucket(4,k)"))
    spark.sql("CREATE TABLE stage_t.ws.spj_d (k BIGINT, vb BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO stage_t.ws.spj_d SELECT 1 + 4 * id, id * 7 FROM range(0, 1000)")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "spj_d", partitionBy = Some("bucket(4,k)"))
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxPartitionBytes")
    val saved = keys.map(kk => kk -> spark.conf.getOption(kk))
    keys.take(3).foreach(spark.conf.set(_, "true"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // small split size: the viral bucket's single laid-out file becomes
    // many splits, each its own HasPartitionKey partition
    spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
    try {
      val j = spark.sql(
        "SELECT a.k, va, vb FROM stage_t.ws.spj_h a JOIN stage_t.ws.spj_d b ON a.k = b.k")
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"partially-clustered SPJ planned a shuffle:\n$p")
      // the hot bucket splits across MORE tasks than the 4 residues — the
      // skew answer: co-location kept, one-task-per-bucket serialization gone
      val parts = j.queryExecution.toRdd.getNumPartitions
      assert(parts > 4, s"viral bucket serialized into one task: $parts partitions")
      // exactness under the fanned execution
      assert(j.count() === 1000L)
      val chk = j.agg(sum(col("va") * col("vb"))).collect()(0).getLong(0)
      val exp = (0L until 1000L).map(i => i * (i * 7)).sum
      assert(chk === exp, "partially-clustered SPJ lost or duplicated rows")
    } finally saved.foreach {
      case (kk, Some(v)) => spark.conf.set(kk, v)
      case (kk, None)    => spark.conf.unset(kk)
    }
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_h")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.spj_d")
  }

  test("small-file optimize: scope='small' binpacks only sub-floor files, carries big ones by name; lineage preserved") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.sfo")
    spark.sql(
      """CREATE TABLE stage_t.ws.sfo (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.row-lineage'='true')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.sfo SELECT id, id FROM range(0, 20000)")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "sfo", targetFiles = 1)
    val bigFiles = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "sfo").toSet
    assert(bigFiles.size === 1)
    def ids(): Map[Long, Long] =
      StagingMaintenance.readLineage(spark, "stage_t", "ws", "sfo")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // tiny commit files accrete next to the compacted one (the streaming-
    // ingest shape)
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO stage_t.ws.sfo VALUES (${100000 + i}, $i)"))
    val preIds = ids()
    val before = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "sfo").toSet
    assert(before.size === 4)
    // binpack ONLY the three tiny files; the big one carries BY NAME
    val r = spark.sql(
      "CALL stage_t.optimize('ws', 'sfo', 1, scope => 'small', min_size_bytes => 20000)")
      .collect()(0)
    assert(r.getInt(0) === 3, s"expected 3 small files packed, got ${r.getInt(0)}")
    val after = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "sfo").toSet
    assert(bigFiles.subsetOf(after), "small-file optimize rewrote the big file")
    assert(after.size === 2, s"expected big + 1 packed file: $after")
    assert((before -- after).size === 3, "small files did not leave the manifest")
    // rows and identities intact — carried big file AND packed small ones
    assert(spark.table("stage_t.ws.sfo").count() === 20003L)
    assert(ids() === preIds, "small-file optimize re-identified rows")
    // a second run is a no-op (fewer than two sub-floor files)
    val r2 = spark.sql(
      "CALL stage_t.optimize('ws', 'sfo', 1, scope => 'small', min_size_bytes => 20000)")
      .collect()(0)
    assert(r2.getInt(0) === 0 && r2.getLong(2) === -1L, "no-op run committed a version")
    // misuse surfaces loudly
    val e = intercept[Exception] {
      spark.sql("CALL stage_t.optimize('ws', 'sfo', 1, scope => 'small')").collect()
    }
    assert(exMessages(e).exists(_.contains("min_size_bytes")), e.getMessage)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.sfo")
  }

  test("size-derived optimize: target_files=0 sizes the compaction from declared target-file-size") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.szo")
    spark.sql("""CREATE TABLE stage_t.ws.szo (k BIGINT, v STRING)
      TBLPROPERTIES ('graft.target-file-size'='65536')""")
    // several spread-out commits totalling well over 2×64 KiB
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO stage_t.ws.szo SELECT id, md5(CAST(id AS STRING)) " +
        s"FROM range(${i * 5000}, ${(i + 1) * 5000})"))
    val bytesPre = spark.sql("CALL stage_t.detail('ws', 'szo')").collect()(0).getLong(2)
    val expect = math.max(1L, (bytesPre + 65535L) / 65536L)
    val (before, after, v) =
      StagingMaintenance.optimize(spark, "stage_t", "ws", "szo", targetFiles = 0)
    assert(before >= 4 && v > 0) // each INSERT may land several part files
    assert(after === expect.toInt,
      s"size-derived count off: $after files for $bytesPre pre-bytes (~$expect)")
    assert(after >= 2, s"expected multiple 64 KiB-sized files, got $after")
    assert(spark.table("stage_t.ws.szo").count() === 20000L)
    // with NO declared size the default is 128 MiB → tiny table → 1 file
    spark.sql("ALTER TABLE stage_t.ws.szo UNSET TBLPROPERTIES ('graft.target-file-size')")
    val (_, after2, _) =
      StagingMaintenance.optimize(spark, "stage_t", "ws", "szo", targetFiles = 0)
    assert(after2 === 1, s"default-sized compaction wrote $after2 files")
    // negative counts are a typo, not a size-derived opt-in
    val eNeg = intercept[Exception] {
      StagingMaintenance.optimize(spark, "stage_t", "ws", "szo", targetFiles = -3)
    }
    assert(eNeg.getMessage.contains("target_files must be positive"), eNeg.getMessage)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.szo")
  }

  test("where-scoped optimize: only files the predicate can touch rewrite; the rest carry by name") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.wso")
    // auto-analyze keeps the rewrite's own output prunable, so a second
    // where-scope never conservatively re-selects a stats-less file
    spark.sql("""CREATE TABLE stage_t.ws.wso (k BIGINT, v BIGINT)
      TBLPROPERTIES ('graft.auto-analyze'='k')""")
    // three range-disjoint commits (the arriving-in-time-order shape)
    Seq((0, 1000), (1000, 2000), (2000, 3000)).foreach { case (lo, hi) =>
      spark.sql(s"INSERT INTO stage_t.ws.wso " +
        s"SELECT /*+ COALESCE(1) */ id, id FROM range($lo, $hi)")
    }
    val before = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "wso").toSet
    assert(before.size === 3)
    // re-cluster ONLY the middle slice (interior bounds: stats-based
    // canMatch is inclusive-weak at exact file boundaries by design, so
    // an abutting bound would conservatively keep the neighbor file)
    val r = spark.sql(
      """CALL stage_t.optimize('ws', 'wso', 1, cluster_by => 'k',
        |where_filter => 'k >= 1001 AND k < 1999')""".stripMargin).collect()(0)
    assert(r.getInt(0) === 1, s"expected exactly the mid file selected, got ${r.getInt(0)}")
    val after = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "wso").toSet
    assert((before & after).size === 2, "out-of-range files did not carry by name")
    assert(spark.table("stage_t.ws.wso").count() === 3000L)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.wso WHERE k >= 1000 AND k < 2000")
      .collect()(0).getLong(0) === 1000L)
    // a misspelled column refuses loudly instead of silently selecting
    // every file (the O(table) rewrite the feature exists to avoid)
    val eCol = intercept[Exception] {
      spark.sql("CALL stage_t.optimize('ws', 'wso', 1, where_filter => 'kk >= 1')")
        .collect()
    }
    assert(exMessages(eCol).exists(_.contains("unknown column")), eCol.getMessage)
    // an untranslatable predicate refuses loudly instead of guessing
    val e = intercept[Exception] {
      spark.sql("CALL stage_t.optimize('ws', 'wso', 1, where_filter => 'k % 10 = 3')")
        .collect()
    }
    assert(exMessages(e).exists(_.contains("zone-map-translatable")), e.getMessage)
    // a predicate touching nothing is a no-op (no version committed)
    val r2 = spark.sql(
      "CALL stage_t.optimize('ws', 'wso', 1, where_filter => 'k >= 900000')")
      .collect()(0)
    assert(r2.getInt(0) === 0 && r2.getLong(2) === -1L)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.wso")
  }

  test("vacuum reclaims crashed-rewrite staging dirs past the temp TTL; live-looking dirs and sidecars survive") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.vtmp")
    spark.sql("CREATE TABLE stage_t.ws.vtmp AS SELECT id AS k FROM range(0, 100)")
    spark.sql("INSERT INTO stage_t.ws.vtmp VALUES (100)")
    val root = spark.conf.get("spark.sql.catalog.stage_t.root")
    val d = new org.apache.hadoop.fs.Path(s"$root/ws/vtmp")
    val hfs = d.getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a crashed rewrite of every kind (OPTIMIZE, DELETE
    // remainder, RENAME COLUMN, delta fold, purge) and a crashed committer
    val crashedOpt = new org.apache.hadoop.fs.Path(d, "_optimize_deadbeef")
    val crashedTmp = new org.apache.hadoop.fs.Path(d, "_temporary")
    val crashedOthers = Seq("_delete_", "_rename_", "_fold_", "_purge_")
      .map(pre => new org.apache.hadoop.fs.Path(d, pre + "deadbeef"))
    (crashedOpt +: crashedOthers).foreach { dir =>
      hfs.mkdirs(dir)
      val out = hfs.create(new org.apache.hadoop.fs.Path(dir, "part-junk.parquet"))
      out.write(Array.fill[Byte](128)(1)); out.close()
    }
    hfs.mkdirs(crashedTmp)
    // with a LONG TTL the (recent) dirs look live and survive vacuum
    spark.conf.set("spark.graft.vacuum.temp-ttl-ms", "3600000")
    try {
      spark.sql("CALL stage_t.vacuum('ws', 'vtmp', 10)").collect()
      assert((crashedTmp +: crashedOpt +: crashedOthers).forall(hfs.exists),
        "vacuum reclaimed a recent (possibly live) staging dir")
      // with TTL 0 they are crash artifacts — reclaimed
      Thread.sleep(20)
      spark.conf.set("spark.graft.vacuum.temp-ttl-ms", "0")
      spark.sql("CALL stage_t.vacuum('ws', 'vtmp', 10)").collect()
      assert(!hfs.exists(crashedOpt), "crashed _optimize_ dir not reclaimed")
      assert(!hfs.exists(crashedTmp), "crashed _temporary dir not reclaimed")
      crashedOthers.foreach(dir =>
        assert(!hfs.exists(dir), s"crashed ${dir.getName} dir not reclaimed"))
      // the version log and sidecars are untouched; the table still reads
      assert(hfs.exists(new org.apache.hadoop.fs.Path(d, "_graft_versions")))
      assert(spark.table("stage_t.ws.vtmp").count() === 101L)
    } finally spark.conf.unset("spark.graft.vacuum.temp-ttl-ms")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.vtmp")
  }

  test("change-feed batch face: plain SQL over t.changes, _commit_version pushdown prunes versions, vacuum shrinks the window") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.cfb")
    spark.sql("CREATE TABLE stage_t.ws.cfb (k BIGINT, v STRING)")
    spark.sql("INSERT INTO stage_t.ws.cfb SELECT id, CAST(id AS STRING) FROM range(0, 10)") // v1
    spark.sql("UPDATE stage_t.ws.cfb SET v = 'x' WHERE k = 3") // v2
    spark.sql("UPDATE stage_t.ws.cfb SET v = 'y' WHERE k = 7") // v3
    val root = spark.conf.get("spark.sql.catalog.stage_t.root")
    val cdfDir = new org.apache.hadoop.fs.Path(s"$root/ws/cfb/_graft_cdf")
    val hfs = cdfDir.getFileSystem(spark.sessionState.newHadoopConf())
    // version-pruned read: ONLY v2's diff is computed and served
    val v2 = spark.sql(
      "SELECT k, v, _change_type FROM stage_t.ws.cfb.changes WHERE _commit_version = 2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(v2 === Set((3L, "3", "update_preimage"), (3L, "x", "update_postimage")),
      s"v2 slice wrong: $v2")
    assert(hfs.exists(new org.apache.hadoop.fs.Path(cdfDir, "v2")))
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(cdfDir, "v3")),
      "_commit_version pushdown did not prune v3's diff materialization")
    // IN-set pushdown prunes too (v3 still untouched)
    assert(spark.sql(
      "SELECT count(*) FROM stage_t.ws.cfb.changes WHERE _commit_version IN (2, 99)")
      .collect()(0).getLong(0) === 2L)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(cdfDir, "v3")),
      "IN pushdown did not prune v3's diff materialization")
    // the unfiltered batch read serves the whole retained history
    val all = spark.sql("SELECT _change_type, count(*) AS n " +
      "FROM stage_t.ws.cfb.changes GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all === Map("insert" -> 10L,
      "update_preimage" -> 2L, "update_postimage" -> 2L), all.toString)
    // range bounds compose
    assert(spark.sql(
      "SELECT count(*) FROM stage_t.ws.cfb.changes WHERE _commit_version >= 3")
      .collect()(0).getLong(0) === 2L)
    // vacuum shrinks the window: only DIFFABLE versions (predecessor
    // retained) serve — the read never errors on reclaimed history
    spark.sql("INSERT INTO stage_t.ws.cfb VALUES (100, 'z')") // v4
    spark.sql("CALL stage_t.vacuum('ws', 'cfb', 2)") // retains v3, v4
    val afterVac = spark.sql(
      "SELECT DISTINCT _commit_version FROM stage_t.ws.cfb.changes")
      .collect().map(_.getLong(0)).toSet
    assert(afterVac === Set(4L),
      s"post-vacuum window should be the diffable tail (v4 only): $afterVac")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.cfb")
  }

  test("auto-analyze failure surfacing: consecutive failures count in CALL detail, reset on success") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.aaf")
    spark.sql("""CREATE TABLE stage_t.ws.aaf (k BIGINT, v BIGINT)
      TBLPROPERTIES ('graft.auto-analyze'='k')""")
    def failures(): Long =
      spark.sql("CALL stage_t.detail('ws', 'aaf')").collect()(0).getLong(6)
    spark.sql("INSERT INTO stage_t.ws.aaf SELECT id, id FROM range(0, 100)")
    assert(failures() === 0L)
    // force the harvest to fail: a DIRECTORY squats on the stats sidecar
    // path, so the post-commit footer-stats write throws — the COMMIT
    // itself must still succeed (best-effort contract) and the counter
    // must climb per consecutive failure
    val root = spark.conf.get("spark.sql.catalog.stage_t.root")
    val sidecar = new org.apache.hadoop.fs.Path(s"$root/ws/aaf/_graft_stats.tsv")
    val hfs = sidecar.getFileSystem(spark.sessionState.newHadoopConf())
    hfs.delete(sidecar, true)
    assert(hfs.mkdirs(sidecar))
    spark.sql("INSERT INTO stage_t.ws.aaf SELECT id, id FROM range(100, 200)")
    assert(spark.table("stage_t.ws.aaf").count() === 200L,
      "a failing stats harvest must never fail the statement")
    assert(failures() === 1L)
    spark.sql("INSERT INTO stage_t.ws.aaf SELECT id, id FROM range(200, 300)")
    assert(failures() === 2L, "failures did not count consecutively")
    // heal: the squatting dir goes away, the next commit harvests fine
    // and the counter resets to zero
    hfs.delete(sidecar, true)
    spark.sql("INSERT INTO stage_t.ws.aaf SELECT id, id FROM range(300, 400)")
    assert(failures() === 0L, "counter did not reset on a successful harvest")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.aaf")
  }

  test("auto-analyze: commit-time zone maps prune with no manual ANALYZE") {
    import graft.sources.catalog.ZoneMapScan
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.aa")
    spark.sql("""CREATE TABLE stage_t.ws.aa (k BIGINT, v BIGINT)
      TBLPROPERTIES ('graft.auto-analyze'='k')""")
    spark.sql("INSERT INTO stage_t.ws.aa SELECT id, id * 2 FROM range(0, 500)")
    spark.sql("INSERT INTO stage_t.ws.aa SELECT id, id * 2 FROM range(500, 1000)")
    // NO manual ANALYZE anywhere in this test
    ZoneMapScan.lastPrune = None
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.aa WHERE k = 5")
      .collect()(0).getLong(0) === 1)
    val (kept, total) = ZoneMapScan.lastPrune.get
    assert(kept < total, s"auto-analyzed point lookup read everything: ($kept, $total)")
    // metadata-only ranged DELETE needs null counts too — the auto harvest
    // records both
    ZoneMapScan.lastDeleteSplit = None
    spark.sql("DELETE FROM stage_t.ws.aa WHERE k >= 500")
    val (_, drop, rew) = ZoneMapScan.lastDeleteSplit.get
    assert(drop >= 1 && rew === 0, s"auto-analyzed delete not metadata-only: ($drop, $rew)")
    assert(spark.table("stage_t.ws.aa").count() === 500)
    // a bad column fails the CREATE, not the first commit
    intercept[Exception] {
      spark.sql("CREATE TABLE stage_t.ws.aa_bad (k BIGINT) " +
        "TBLPROPERTIES ('graft.auto-analyze'='nope')")
    }
  }

  test("ALTER TABLE SET/UNSET maintenance knobs: auto-analyze, sort-order, target-file-size") {
    import graft.sources.catalog.ZoneMapScan
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.knobs")
    spark.sql("CREATE TABLE stage_t.ws.knobs (k BIGINT, v BIGINT)")
    // opt IN mid-life: commits after the SET maintain stats
    spark.sql("ALTER TABLE stage_t.ws.knobs SET TBLPROPERTIES ('graft.auto-analyze'='k')")
    spark.sql("INSERT INTO stage_t.ws.knobs SELECT id, id FROM range(0, 400)")
    spark.sql("INSERT INTO stage_t.ws.knobs SELECT id, id FROM range(400, 800)")
    ZoneMapScan.lastPrune = None
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.knobs WHERE k = 3")
      .collect()(0).getLong(0) === 1)
    val (kept, total) = ZoneMapScan.lastPrune.get
    assert(kept < total, s"post-ALTER auto-analyze pruned nothing: ($kept, $total)")
    // sort-order becomes ALTER-able too: subsequent appends range-cluster
    spark.sql("ALTER TABLE stage_t.ws.knobs SET TBLPROPERTIES ('graft.sort-order'='k')")
    assert(spark.sql("SHOW TBLPROPERTIES stage_t.ws.knobs").collect()
      .exists(r => r.getString(0) == "graft.sort-order" && r.getString(1) == "k"))
    spark.sql("ALTER TABLE stage_t.ws.knobs SET TBLPROPERTIES ('graft.target-file-size'='65536')")
    // bad values fail the ALTER, not the next write
    intercept[Exception] {
      spark.sql("ALTER TABLE stage_t.ws.knobs SET TBLPROPERTIES ('graft.auto-analyze'='nope')")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE stage_t.ws.knobs SET TBLPROPERTIES ('graft.target-file-size'='lots')")
    }
    // UNSET removes the sidecars
    spark.sql("ALTER TABLE stage_t.ws.knobs UNSET TBLPROPERTIES ('graft.sort-order')")
    assert(!spark.sql("SHOW TBLPROPERTIES stage_t.ws.knobs").collect()
      .exists(_.getString(0) == "graft.sort-order"))
    // dropping an opted-in column prunes it from the sidecar instead of
    // stranding future commits
    spark.sql("ALTER TABLE stage_t.ws.knobs ADD COLUMN w BIGINT")
    spark.sql("ALTER TABLE stage_t.ws.knobs SET TBLPROPERTIES ('graft.auto-analyze'='k,w')")
    spark.sql("ALTER TABLE stage_t.ws.knobs DROP COLUMN w")
    spark.sql("INSERT INTO stage_t.ws.knobs SELECT id, id FROM range(800, 900)") // must not throw
    assert(spark.table("stage_t.ws.knobs").count() === 900)
  }

  test("vacuum retain_hours: versions inside the time window survive the count floor") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.vt")
    spark.sql("CREATE TABLE stage_t.ws.vt AS SELECT id AS k FROM range(0, 10)") // v1
    // v2 rewrites the file set, so v1's originals are reclaimable once v1
    // ages out of retention
    graft.sources.catalog.StagingMaintenance.optimize(
      spark, "stage_t", "ws", "vt", targetFiles = 1) // v2
    spark.sql("INSERT INTO stage_t.ws.vt SELECT id FROM range(10, 20)") // v3
    // backdate v1 beyond the retention window (manifest ts is the commit
    // clock time travel and the window both read)
    val v1 = new java.io.File(stageRoot, "ws/vt/_graft_versions/v1.json")
    val txt = new String(java.nio.file.Files.readAllBytes(v1.toPath), "UTF-8")
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    java.nio.file.Files.write(v1.toPath,
      txt.replaceAll("\"ts\":\\d+", s""""ts":$old""").getBytes("UTF-8"))
    // the direct edit invalidates Hadoop LocalFileSystem's checksum sidecar
    new java.io.File(v1.getParentFile, s".${v1.getName}.crc").delete()
    // count floor alone would keep only v3; the 24h window ALSO keeps v2
    val deleted = spark.sql(
      "CALL stage_t.vacuum('ws', 'vt', retain_last => 1, retain_hours => 24.0)")
      .collect()(0).getInt(0)
    assert(deleted >= 1, "backdated v1's files must be reclaimed")
    // v2 is OUTSIDE the count floor (retain_last=1 keeps only v3) but
    // INSIDE the 24h window — the window kept it readable
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.vt VERSION AS OF 2")
      .collect()(0).getLong(0) === 10)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.vt").collect()(0).getLong(0) === 20)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM stage_t.ws.vt VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("no version 1"), e.getMessage)
  }

  test("partition-spec evolution: retired specs keep pruning; stray-only optimize beds only new files") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    // MICROS timestamps so parquet footers carry ts stats (INT96 writes
    // none — the same trade every timestamp-zone-map operator makes)
    val prevT = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.evopart")
    spark.sql("""CREATE TABLE stage_t.ws.evopart (k BIGINT, ts TIMESTAMP, v BIGINT)
      PARTITIONED BY (days(ts))""")
    // slice A: three UTC days, bedded into the days layout
    spark.sql("""INSERT INTO stage_t.ws.evopart
      SELECT id, timestamp'2024-01-01 12:00:00' + make_interval(0,0,0,CAST(id % 3 AS INT)),
             id FROM range(0, 900)""")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "evopart", partitionBy = Some("days(ts)"))
    // EVOLVE: days(ts) retires, bucket(4, k) becomes current — no rewrite
    val dayFiles = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "evopart")
    assert(dayFiles.nonEmpty && dayFiles.forall(_.startsWith("ts_day=")), dayFiles)
    spark.sql("CALL stage_t.set_partition_spec('ws', 'evopart', 'bucket(4,k)')")
    assert(StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "evopart") === dayFiles)
    // slice B lands flat; stray-only optimize beds ONLY it into bucket dirs
    spark.sql("""INSERT INTO stage_t.ws.evopart
      SELECT id, timestamp'2024-02-01 00:00:00', id FROM range(1000, 1400)""")
    spark.sql(
      "CALL stage_t.optimize('ws', 'evopart', partition_by => 'bucket(4,k)', scope => 'stray')")
    val files = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "evopart")
    assert(dayFiles.forall(files.contains), "stray-only optimize rewrote carried day files")
    assert(files.exists(_.startsWith("k_bucket=")), files)
    assert(files.forall(f => f.startsWith("ts_day=") || f.startsWith("k_bucket=")), files)
    assert(spark.table("stage_t.ws.evopart").count() === 1300)
    // a day predicate prunes the OLD family through the RETIRED spec
    ZoneMapScan.lastPrune = None
    assert(spark.sql(
      """SELECT count(*) FROM stage_t.ws.evopart
        |WHERE ts >= timestamp'2024-01-02 00:00:00' AND ts < timestamp'2024-01-03 00:00:00'"""
        .stripMargin).collect()(0).getLong(0) === 300)
    val (kD, tD) = ZoneMapScan.lastPrune.get
    assert(kD < tD, s"retired days spec pruned nothing: ($kD, $tD)")
    // a key point-lookup prunes the NEW family through the CURRENT spec
    // (day files can say nothing about k and are conservatively kept)
    ZoneMapScan.lastPrune = None
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.evopart WHERE k = 1001")
      .collect()(0).getLong(0) === 1)
    val (kB, tB) = ZoneMapScan.lastPrune.get
    assert(kB < tB, s"current bucket spec pruned nothing: ($kB, $tB)")
    // metadata-only whole-day DELETE still rides the retired spec; the
    // NEW family needs ts zone maps to prove its non-involvement (bucket
    // dirs structurally say nothing about time)
    StagingMaintenance.analyze(spark, "stage_t", "ws", "evopart", Seq("ts"))
    ZoneMapScan.lastDeleteSplit = None
    spark.sql(
      """DELETE FROM stage_t.ws.evopart
        |WHERE ts >= timestamp'2024-01-03 00:00:00' AND ts < timestamp'2024-01-04 00:00:00'"""
        .stripMargin)
    val (_, drop, rew) = ZoneMapScan.lastDeleteSplit.get
    assert(drop >= 1 && rew === 0, s"whole-day delete not metadata-only: ($drop, $rew)")
    assert(spark.table("stage_t.ws.evopart").count() === 1000)
    // invalid evolutions fail loudly, nothing changes
    intercept[Exception] {
      spark.sql("CALL stage_t.set_partition_spec('ws', 'evopart', 'bucket(4,ts)')")
    }
    intercept[Exception] {
      spark.sql("CALL stage_t.set_partition_spec('ws', 'evopart', 'days(k)')")
    }
    intercept[Exception] {
      spark.sql("CALL stage_t.optimize('ws', 'evopart', scope => 'stray')")
    }
    } finally prevT match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("metadata table faces: files/partitions/snapshots expose the manifest to SQL") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.ms")
    spark.sql("CREATE TABLE stage_t.ws.ms AS SELECT id AS k FROM range(0, 100)")
    spark.sql("INSERT INTO stage_t.ws.ms SELECT id FROM range(100, 200)")
    val snaps = spark.sql(
      "SELECT version, kind, n_files FROM stage_t.ws.ms.snapshots ORDER BY version").collect()
    assert(snaps.map(_.getLong(0)).toSeq === Seq(1L, 2L), snaps.mkString(","))
    assert(snaps.forall(_.getString(1) == "commit"))
    assert(snaps(0).getInt(2) < snaps(1).getInt(2), "file count must accrete across commits")
    val files = spark.sql("SELECT file, size_bytes, partition FROM stage_t.ws.ms.files").collect()
    assert(files.length === snaps(1).getInt(2))
    assert(files.forall(r => r.getLong(1) > 0 && r.isNullAt(2)), files.mkString(","))
    val parts =
      spark.sql("SELECT partition, n_files FROM stage_t.ws.ms.partitions").collect()
    assert(parts.length === 1 && parts(0).isNullAt(0) && parts(0).getInt(1) === files.length)
    // committed_at is a usable timestamp (commit cadence queries)
    val span = spark.sql(
      "SELECT max(committed_at) >= min(committed_at) FROM stage_t.ws.ms.snapshots")
      .collect()(0).getBoolean(0)
    assert(span)
    // a face of a missing base table fails like the base would
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM stage_t.ws.no_such_tbl.files").collect()
    }
    assert(e.getMessage.contains("no_such_tbl"), e.getMessage)
    // faces time-travel: v1's files face IS v1's manifest, and the
    // snapshots face pinned at v1 ends there
    val f1 = spark.sql("SELECT count(*) FROM stage_t.ws.ms.files VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(f1 === snaps(0).getInt(2).toLong)
    assert(spark.sql("SELECT max(version) FROM stage_t.ws.ms.snapshots VERSION AS OF 1")
      .collect()(0).getLong(0) === 1L)
  }

  test("schema evolution lifecycle: ADD → UPDATE → DROP → RENAME with era-scoped time travel") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.evo")
    spark.sql("CREATE TABLE stage_t.ws.evo AS SELECT id AS k, id * 2 AS v FROM range(0, 100)") // v1
    // era 1: (k, v)
    spark.sql("ALTER TABLE stage_t.ws.evo ADD COLUMN w BIGINT")
    spark.sql("INSERT INTO stage_t.ws.evo SELECT id, id, id * 10 FROM range(100, 120)") // v2
    // era 2: (k, v, w) — UPDATE through the evolved schema
    spark.sql("UPDATE stage_t.ws.evo SET w = -1 WHERE k < 10") // v3
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.evo WHERE w = -1")
      .collect()(0).getLong(0) === 10)
    // DROP v: sidecar shrinks, files untouched, reads project it away
    spark.sql("ALTER TABLE stage_t.ws.evo DROP COLUMN v")
    assert(spark.table("stage_t.ws.evo").schema.fieldNames.toSeq === Seq("k", "w"))
    assert(spark.table("stage_t.ws.evo").count() === 120)
    // era-scoped time travel: v1 shows the ORIGINAL schema (k, v) — no w,
    // and the dropped v is still visible on its own era
    val v1 = spark.sql("SELECT * FROM stage_t.ws.evo VERSION AS OF 1")
    assert(v1.schema.fieldNames.toSeq === Seq("k", "v"), v1.schema.treeString)
    assert(v1.where("v = 198").count() === 1)
    // v2/v3 are era 2: (k, v, w)
    val v3 = spark.sql("SELECT * FROM stage_t.ws.evo VERSION AS OF 3")
    assert(v3.schema.fieldNames.toSeq === Seq("k", "v", "w"), v3.schema.treeString)
    assert(v3.where("w = -1").count() === 10)
    // RENAME w→score: explicit copy-on-write rewrite (no field IDs — a
    // metadata rename would null out pre-rename files), kind=rename version
    spark.sql("ALTER TABLE stage_t.ws.evo RENAME COLUMN w TO score")
    val now = spark.table("stage_t.ws.evo")
    assert(now.schema.fieldNames.toSeq === Seq("k", "score"))
    assert(now.where("score = -1").count() === 10, "rename lost data")
    assert(now.count() === 120)
    // pre-rename versions keep their era schema
    assert(spark.sql("SELECT * FROM stage_t.ws.evo VERSION AS OF 3")
      .schema.fieldNames.toSeq === Seq("k", "v", "w"))
    // refusals: dropping a missing / last column, renaming onto a collision
    intercept[Exception] { spark.sql("ALTER TABLE stage_t.ws.evo DROP COLUMN nope") }
    intercept[Exception] {
      spark.sql("ALTER TABLE stage_t.ws.evo RENAME COLUMN score TO k")
    }
  }

  test("null-count zone maps: IS [NOT] NULL prunes; metadata-only DELETE drops interior files") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.nz")
    // v is NULL exactly for k < 500 — comfortably past the first file's
    // range-sampled boundary (~400±), so the low file is ALWAYS all-null
    // on v whatever the partitioner sampled; the top files are null-free
    spark.sql("""CREATE TABLE stage_t.ws.nz AS
      SELECT k, CASE WHEN k < 500 THEN CAST(NULL AS BIGINT) ELSE k END AS v
      FROM (SELECT id AS k FROM range(0, 3200)) DISTRIBUTE BY k""")
    StagingMaintenance.optimize(spark, "stage_t", "ws", "nz",
      targetFiles = 8, clusterBy = Some("k"))
    StagingMaintenance.analyze(spark, "stage_t", "ws", "nz", Seq("k", "v"))
    def prune(sql: String): (Long, (Int, Int)) = {
      ZoneMapScan.lastPrune = None
      val n = spark.sql(sql).collect()(0).getLong(0)
      (n, ZoneMapScan.lastPrune.getOrElse((-1, -1)))
    }
    // IS NULL reads only files that can hold nulls
    val (nNull, pNull) = prune("SELECT count(*) FROM stage_t.ws.nz WHERE v IS NULL")
    assert(nNull === 500)
    assert(pNull._2 === 8 && pNull._1 <= 2, s"IS NULL pruned nothing: $pNull")
    // IS NOT NULL skips the all-null file
    val (nNotNull, pNotNull) = prune("SELECT count(*) FROM stage_t.ws.nz WHERE v IS NOT NULL")
    assert(nNotNull === 2700)
    assert(pNotNull._1 <= 7, s"IS NOT NULL kept everything: $pNotNull")
    // a value predicate prunes the all-null file AND the out-of-range files
    val (nVal, pVal) = prune("SELECT count(*) FROM stage_t.ws.nz WHERE v = 100")
    assert(nVal === 0)
    assert(pVal._1 === 0, s"v=100 exists nowhere, expected full prune: $pVal")
    // metadata-only DELETE: the interior file(s) of a clustered range
    // delete fully match → dropped from the manifest WITHOUT being read;
    // boundary files rewrite; the rest carry
    ZoneMapScan.lastDeleteSplit = None
    spark.sql("DELETE FROM stage_t.ws.nz WHERE k >= 390 AND k < 1210")
    val (unt, drop, rew) = ZoneMapScan.lastDeleteSplit.get
    assert(unt + drop + rew === 8, s"split does not cover the table: ($unt, $drop, $rew)")
    assert(drop >= 1, s"no metadata-only drop: ($unt, $drop, $rew)")
    // range-partitioner sampling makes exact boundaries run-dependent; a
    // ~25% keyspace delete on 8 clustered files must still carry at least 4
    assert(unt >= 4, s"too few untouched: ($unt, $drop, $rew)")
    assert(spark.table("stage_t.ws.nz").count() === 3200 - (1210 - 390))
    // NULL survival: DELETE WHERE v <= 10000 is UNKNOWN on null-v rows —
    // they must survive; all-null files carry untouched, null-free files
    // drop metadata-only
    StagingMaintenance.analyze(spark, "stage_t", "ws", "nz", Seq("k", "v"))
    ZoneMapScan.lastDeleteSplit = None
    spark.sql("DELETE FROM stage_t.ws.nz WHERE v <= 10000")
    val (unt2, drop2, rew2) = ZoneMapScan.lastDeleteSplit.get
    assert(drop2 >= 1, s"null-free fully-matching files should drop: ($unt2, $drop2, $rew2)")
    val left = spark.table("stage_t.ws.nz")
    assert(left.count() === 390 && left.where("v IS NOT NULL").count() === 0,
      "NULL-predicate rows must survive a DELETE")
  }

  test("stored procedures: CALL optimize/analyze/vacuum/history drive the whole lifecycle from SQL") {
    import graft.sources.catalog.ZoneMapScan
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.proc")
    spark.sql("CREATE TABLE stage_t.ws.proc AS SELECT id AS k FROM range(0, 2000)") // v1
    spark.sql("INSERT INTO stage_t.ws.proc SELECT id AS k FROM range(2000, 4000)")  // v2
    // CALL optimize with CLUSTER BY — returns (files_before, files_after, version)
    val opt = spark.sql("CALL stage_t.optimize('ws', 'proc', 4, 'k')").collect()(0)
    assert(opt.getInt(1) === 4 && opt.getLong(2) === 3L, opt.toString)
    assert(spark.table("stage_t.ws.proc").count() === 4000)
    // CALL analyze — zone maps; a plain SQL range scan then skips files
    val analyzed = spark.sql("CALL stage_t.analyze('ws', 'proc', 'k')").collect()(0).getInt(0)
    assert(analyzed === 4, s"analyzed $analyzed")
    ZoneMapScan.lastPrune = None
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.proc WHERE k BETWEEN 100 AND 300")
      .collect()(0).getLong(0) === 201)
    val (kept, total) = ZoneMapScan.lastPrune.getOrElse(fail("zone maps not engaged"))
    assert(total === 4 && kept <= 2, s"kept $kept/$total")
    // CALL history — one row per retained version, kinds visible
    val hist = spark.sql("CALL stage_t.history('ws', 'proc')").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(hist.toSeq === Seq((1L, "commit"), (2L, "commit"), (3L, "optimize")), hist.toSeq)
    // CALL vacuum — originals reclaimed, content intact, v1 gone
    val dead = spark.sql("CALL stage_t.vacuum('ws', 'proc', 1)").collect()(0).getInt(0)
    assert(dead > 0, "vacuum reclaimed nothing")
    assert(spark.table("stage_t.ws.proc").count() === 4000)
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM stage_t.ws.proc VERSION AS OF 1").collect()
    }
    // default arguments resolve (target_files=4, cluster_by=NULL)
    val opt2 = spark.sql("CALL stage_t.optimize('ws', 'proc')").collect()(0)
    assert(opt2.getInt(1) === 4, opt2.toString)
    // CALL detail — operational snapshot: version, sizes, analyzed cols
    val det = spark.sql("CALL stage_t.detail('ws', 'proc')").collect()(0)
    assert(det.getLong(0) >= 4L, det.toString)           // version advanced
    assert(det.getLong(1) === 4L, det.toString)          // n_files (last optimize)
    assert(det.getLong(2) > 0L, det.toString)            // n_bytes
    assert(det.getString(4).contains("k"), det.toString) // analyzed_cols
    assert(det.getLong(5) >= 1L, det.toString)           // retained versions
    // unknown procedure fails loudly
    val e = intercept[Exception] { spark.sql("CALL stage_t.nope('ws', 'proc')") }
    assert(e.getMessage.contains("unknown procedure") || e.getMessage.contains("nope"),
      e.getMessage)
  }

  test("CALL restore: metadata-only rollback to an earlier version, itself versioned") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rst")
    spark.sql("CREATE TABLE stage_t.ws.rst AS SELECT id AS k FROM range(0, 100)") // v1
    spark.sql("INSERT INTO stage_t.ws.rst SELECT id AS k FROM range(100, 150)")   // v2
    spark.sql("DELETE FROM stage_t.ws.rst WHERE k >= 50")                         // v3
    assert(spark.table("stage_t.ws.rst").count() === 50)
    // restore to v2 undoes the delete WITHOUT reading or rewriting data
    val dataFilesBefore = graft.sources.catalog.StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "rst").toSet
    val r = spark.sql("CALL stage_t.restore('ws', 'rst', 2)").collect()(0)
    assert(r.getLong(0) === 2L && r.getLong(1) === 4L, r.toString)
    assert(spark.table("stage_t.ws.rst").count() === 150)
    // metadata-only: v2's file set is served verbatim — no new data files
    val filesNow = graft.sources.catalog.StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "rst").toSet
    val filesV2 = spark.sql("SELECT count(*) FROM stage_t.ws.rst VERSION AS OF 2")
      .collect()(0).getLong(0)
    assert(filesV2 === 150)
    assert(filesNow != dataFilesBefore, "restore changed nothing")
    // the rollback is itself history: kind=restore at v4, v3 still pinnable
    val hist = spark.sql("CALL stage_t.history('ws', 'rst')").collect()
      .map(r2 => (r2.getLong(0), r2.getString(1)))
    assert(hist.last === ((4L, "restore")), hist.toSeq)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.rst VERSION AS OF 3")
      .collect()(0).getLong(0) === 50)
    // restoring to a vacuumed-away version fails loudly, table intact
    spark.sql("CALL stage_t.vacuum('ws', 'rst', 1)")
    val e = intercept[Exception] { spark.sql("CALL stage_t.restore('ws', 'rst', 3)").collect() }
    assert(e.getMessage.contains("vacuumed") || e.getMessage.contains("no version"),
      e.getMessage)
    assert(spark.table("stage_t.ws.rst").count() === 150)
    // restore-to-TAG (r11): tags resolve in restore like everywhere else
    spark.sql("INSERT INTO stage_t.ws.rst VALUES (9999)") // v5
    spark.sql("CALL stage_t.tag('ws', 'rst', 'pre_oops', 4)")
    spark.sql("DELETE FROM stage_t.ws.rst WHERE k < 10000") // v6: everything gone
    assert(spark.table("stage_t.ws.rst").count() === 0)
    val rt = spark.sql("CALL stage_t.restore('ws', 'rst', to_tag => 'pre_oops')").collect()(0)
    assert(rt.getLong(0) === 4L)
    assert(spark.table("stage_t.ws.rst").count() === 150)
    intercept[Exception] {
      spark.sql("CALL stage_t.restore('ws', 'rst', to_tag => 'nope')").collect()
    }
    // exactly one of to_version / to_tag
    intercept[Exception] {
      spark.sql("CALL stage_t.restore('ws', 'rst', 2, to_tag => 'pre_oops')").collect()
    }
    intercept[Exception] {
      spark.sql("CALL stage_t.restore('ws', 'rst')").collect()
    }
  }

  test("CHECK constraints: write-time row validation on insert, update and CTAS; DDL-time typo guard") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.chk")
    // CTAS with TBLPROPERTIES: the constraint guards the CTAS rows themselves
    spark.sql(
      """CREATE TABLE stage_t.ws.chk (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('check' = 'v >= 0')""".stripMargin)
    // DESCRIBE surfaces the constraint
    assert(spark.sql("SHOW TBLPROPERTIES stage_t.ws.chk").collect()
      .exists(r => r.getString(0) == "check" && r.getString(1) == "v >= 0"))
    spark.sql("INSERT INTO stage_t.ws.chk SELECT id, id * 10 FROM range(0, 100)")
    assert(spark.table("stage_t.ws.chk").count() === 100)
    // violating INSERT: fails, commits nothing, mints no version
    val versionsBefore = spark.sql("CALL stage_t.history('ws', 'chk')").count()
    val e = intercept[Exception] {
      spark.sql("INSERT INTO stage_t.ws.chk SELECT id, -id - 1 FROM range(0, 10)")
    }
    assert(exMessages(e).exists(_.contains("CHECK constraint violated")), e.getMessage)
    assert(spark.table("stage_t.ws.chk").count() === 100, "partial rows leaked")
    assert(spark.sql("CALL stage_t.history('ws', 'chk')").count() === versionsBefore,
      "failed write minted a version")
    // NULL passes (SQL CHECK rejects only FALSE)
    spark.sql("INSERT INTO stage_t.ws.chk VALUES (999, CAST(NULL AS BIGINT))")
    assert(spark.table("stage_t.ws.chk").count() === 101)
    // UPDATE cannot move a row INTO violation
    val e2 = intercept[Exception] {
      spark.sql("UPDATE stage_t.ws.chk SET v = -5 WHERE k = 1")
    }
    assert(exMessages(e2).exists(_.contains("CHECK constraint violated")), e2.getMessage)
    // ...but a conforming UPDATE sails through
    spark.sql("UPDATE stage_t.ws.chk SET v = 12345 WHERE k = 1")
    assert(spark.sql("SELECT v FROM stage_t.ws.chk WHERE k = 1").collect()(0).getLong(0) === 12345)
    // DDL-time validation: unknown column and dropping a checked column fail fast
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE stage_t.ws.chk SET TBLPROPERTIES ('check' = 'nope > 0')")
    }
    assert(e3.getMessage.toLowerCase.contains("nope"), e3.getMessage)
    val e4 = intercept[Exception] { spark.sql("ALTER TABLE stage_t.ws.chk DROP COLUMN v") }
    assert(e4.getMessage.contains("CHECK"), e4.getMessage)
    // UNSET lifts enforcement
    spark.sql("ALTER TABLE stage_t.ws.chk UNSET TBLPROPERTIES ('check')")
    spark.sql("INSERT INTO stage_t.ws.chk VALUES (1000, -1)")
    assert(spark.table("stage_t.ws.chk").count() === 102)
  }

  test("Bloom sidecars: point lookups prune files whose min/max ranges cannot") {
    import graft.sources.catalog.ZoneMapScan
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.blm")
    // hash-distributed ingest: every file's [min,max] spans the whole
    // keyspace, so zone maps are USELESS for a point lookup here
    spark.sql(
      """CREATE TABLE stage_t.ws.blm AS
        |SELECT /*+ REPARTITION(8, k) */ id AS k, id * 3 AS v
        |FROM (SELECT id FROM range(0, 4000))""".stripMargin)
    spark.sql("CALL stage_t.analyze('ws', 'blm', 'k')")
    ZoneMapScan.lastPrune = None
    assert(spark.sql("SELECT v FROM stage_t.ws.blm WHERE k = 1234")
      .collect()(0).getLong(0) === 3702L)
    val (keptZ, totalZ) = ZoneMapScan.lastPrune.getOrElse(fail("zone maps not engaged"))
    assert(totalZ === 8 && keptZ === 8, s"ranges unexpectedly pruned: $keptZ/$totalZ")
    // Bloom filters close the hole: the key lives in exactly one file
    val built = spark.sql("CALL stage_t.bloom('ws', 'blm', 'k', 10000, 0.0001)")
      .collect()(0).getInt(0)
    assert(built === 8, s"built $built")
    ZoneMapScan.lastPrune = None
    assert(spark.sql("SELECT v FROM stage_t.ws.blm WHERE k = 1234")
      .collect()(0).getLong(0) === 3702L)
    val (keptB, totalB) = ZoneMapScan.lastPrune.getOrElse(fail("bloom prune not engaged"))
    assert(totalB === 8 && keptB <= 2, s"bloom kept $keptB/$totalB")
    // IN probes prune per value; soundness: all requested rows come back
    ZoneMapScan.lastPrune = None
    val rows = spark.sql("SELECT k, v FROM stage_t.ws.blm WHERE k IN (7, 3999)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((7L, 21L), (3999L, 11997L)))
    val (keptI, _) = ZoneMapScan.lastPrune.getOrElse(fail("bloom prune not engaged"))
    assert(keptI <= 4, s"IN kept $keptI/8")
    // a probe for an absent key opens zero files
    ZoneMapScan.lastPrune = None
    assert(spark.sql("SELECT v FROM stage_t.ws.blm WHERE k = 999999").collect().isEmpty)
    val (keptA, _) = ZoneMapScan.lastPrune.getOrElse(fail("bloom prune not engaged"))
    assert(keptA === 0, s"absent-key probe kept $keptA files")
    // incremental: a fresh INSERT's file is uncovered → read conservatively
    // until the next CALL bloom sweeps it (advisory-cache contract)
    spark.sql("INSERT INTO stage_t.ws.blm VALUES (999999, -1)")
    assert(spark.sql("SELECT v FROM stage_t.ws.blm WHERE k = 999999")
      .collect()(0).getLong(0) === -1L)
    val built2 = spark.sql("CALL stage_t.bloom('ws', 'blm', 'k', 10000, 0.0001)")
      .collect()(0).getInt(0)
    assert(built2 === 1, s"incremental built $built2")
  }

  test("FunctionCatalog: catalog-resolved scalar (codegen magic method) and V2 aggregate") {
    mountStage()
    // scalar: canonical bucket assignment, negative keys included
    val r = spark.sql(
      "SELECT stage_t.system.mod_bucket(17L, 5) AS a, stage_t.system.mod_bucket(-3L, 5) AS b")
      .collect()(0)
    assert(r.getInt(0) === 2 && r.getInt(1) === 2, r.toString)
    // the call compiles into the plan (V2 function resolution, not a UDF)
    val plan = spark.sql("SELECT stage_t.system.mod_bucket(id, 7) AS bk FROM range(0, 100)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("mod_bucket") || plan.contains("invoke"), plan)
    // V2 aggregate: decimal-exact distributed sum matches the Det convention
    import spark.implicits._
    val vals = Seq(1.00005, 2.33333, -0.5, 1e9 + 0.12345).toDF("x")
    vals.createOrReplaceTempView("dsum_src")
    val got = spark.sql("SELECT stage_t.system.dsum4(x) AS s FROM dsum_src")
      .collect()(0).getDouble(0)
    val want = vals.agg(graft.operators.Det.dsum(col("x"))).collect()(0).getDouble(0)
    assert(got === want, s"$got vs $want")
    // result is partitioning-independent (merge path exercised)
    val got32 = spark.sql(
      "SELECT stage_t.system.dsum4(x) AS s FROM (SELECT /*+ REPARTITION(32) */ x FROM dsum_src)")
      .collect()(0).getDouble(0)
    assert(got32 === want)
    // unknown function fails with the standard analysis error
    val e = intercept[Exception] { spark.sql("SELECT stage_t.system.nope(1)") }
    assert(e.getMessage.contains("nope"), e.getMessage)
    // discovery: SHOW FUNCTIONS surfaces the catalog's functions
    val fns = spark.sql("SHOW FUNCTIONS IN stage_t.system").collect()
      .map(_.getString(0)).toSet
    assert(fns.exists(_.contains("mod_bucket")) && fns.exists(_.contains("dsum4")), fns)
    // bad bucket counts fail with the documented contract error, not a raw
    // codegen division-by-zero / negative-residue leak
    for (badN <- Seq(0, -4)) {
      val bad = intercept[Exception] {
        spark.sql(s"SELECT stage_t.system.mod_bucket(5L, $badN)").collect()
      }
      val msgs = Iterator.iterate(bad: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msgs.contains("positive"), s"n=$badN: $msgs")
    }
  }

  test("INSERT OVERWRITE: atomic replace-partition via one manifest; truncate is metadata-only") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.ow")
    spark.sql(
      "CREATE TABLE stage_t.ws.ow (k BIGINT, grp STRING) PARTITIONED BY (grp)")
    spark.sql(
      """INSERT INTO stage_t.ws.ow
        |SELECT id, CASE WHEN id < 500 THEN 'a' ELSE 'b' END FROM range(0, 1000)""".stripMargin)
    // bed into grp=…/ dirs + constant zone maps (the partition contract)
    spark.sql("CALL stage_t.optimize('ws', 'ow', 2, NULL, 'grp')")
    spark.sql("CALL stage_t.analyze('ws', 'ow', 'grp')")
    val filesBefore = graft.sources.catalog.StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "ow")
    val aFiles = filesBefore.filter(_.startsWith("grp=a/")).toSet
    assert(aFiles.nonEmpty && filesBefore.exists(_.startsWith("grp=b/")))
    val versionsBefore = spark.sql("CALL stage_t.history('ws', 'ow')").count()
    // replace partition b: delete-and-insert lands as ONE version
    spark.sql(
      """INSERT OVERWRITE stage_t.ws.ow PARTITION (grp = 'b')
        |SELECT id FROM range(2000, 2100)""".stripMargin)
    val hist = spark.sql("CALL stage_t.history('ws', 'ow')").collect()
    assert(hist.length === versionsBefore + 1, s"overwrite must be ONE commit: ${hist.length}")
    assert(hist.last.getString(1) === "overwrite", hist.last.toString)
    // content: partition a untouched (same files BY NAME), b replaced
    val filesAfter = graft.sources.catalog.StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "ow")
    assert(filesAfter.filter(_.startsWith("grp=a/")).toSet === aFiles,
      "untouched partition must carry by name")
    assert(!filesAfter.exists(_.startsWith("grp=b/")), "old partition files must drop")
    val got = spark.sql(
      "SELECT grp, count(*) AS n, min(k) AS lo, max(k) AS hi FROM stage_t.ws.ow GROUP BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(("a", 500L, 0L, 499L), ("b", 100L, 2000L, 2099L)), got)
    // pre-overwrite state stays pinnable (copy-on-write contract)
    assert(spark.sql(
      s"SELECT count(*) FROM stage_t.ws.ow VERSION AS OF ${versionsBefore}")
      .collect()(0).getLong(0) === 1000L)
    // INSERT OVERWRITE with no partition spec = truncate-and-load
    spark.sql("INSERT OVERWRITE stage_t.ws.ow SELECT id, 'c' FROM range(0, 10)")
    assert(spark.table("stage_t.ws.ow").count() === 10)
    assert(spark.sql("SELECT DISTINCT grp FROM stage_t.ws.ow").collect()
      .map(_.getString(0)).toSeq === Seq("c"))
  }

  test("type widening: INT->BIGINT / FLOAT->DOUBLE are sidecar-only; old files promote at read; eras pin the narrow schema") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.wide")
    spark.sql("CREATE TABLE stage_t.ws.wide (k INT, x FLOAT, tag STRING)")
    spark.sql(
      "INSERT INTO stage_t.ws.wide SELECT CAST(id AS INT), CAST(id AS FLOAT) / 4.0F, 'a' " +
        "FROM range(0, 100)")
    val vNarrow = spark.sql("CALL stage_t.history('ws', 'wide')").count()
    val filesBefore = graft.sources.catalog.StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "wide").toSet
    spark.sql("ALTER TABLE stage_t.ws.wide ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE stage_t.ws.wide ALTER COLUMN x TYPE DOUBLE")
    // pure metadata: no files rewritten by the widen
    assert(graft.sources.catalog.StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "wide").toSet === filesBefore,
      "type widening must not rewrite files")
    // post-widen schema + values beyond INT range land fine
    val sch = spark.table("stage_t.ws.wide").schema
    assert(sch("k").dataType === org.apache.spark.sql.types.LongType, sch.toString)
    assert(sch("x").dataType === org.apache.spark.sql.types.DoubleType, sch.toString)
    spark.sql(
      "INSERT INTO stage_t.ws.wide VALUES (5000000000, 0.125D, 'b')")
    // mixed old(int32/float) + new(int64/double) files in ONE scan
    val got = spark.sql(
      """SELECT tag, count(*) AS n, max(k) AS mk,
        |  CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx
        |FROM stage_t.ws.wide GROUP BY tag ORDER BY tag""".stripMargin).collect()
    assert(got.length === 2 && got(1).getLong(2) === 5000000000L, got.mkString(","))
    assert(got(0).getLong(1) === 100L && got(0).getLong(2) === 99L)
    // narrowing refused (Spark's analyzer rejects it before the catalog)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE stage_t.ws.wide ALTER COLUMN k TYPE INT")
    }
    assert(e.getMessage.toLowerCase.contains("not supported") ||
      e.getMessage.contains("widening"), e.getMessage)
    // time travel: the pre-widen version reads under its NARROW era schema
    val pinned = spark.sql(s"SELECT * FROM stage_t.ws.wide VERSION AS OF $vNarrow")
    assert(pinned.schema("k").dataType === org.apache.spark.sql.types.IntegerType,
      pinned.schema.toString)
    assert(pinned.count() === 100L)
    // zone maps on the widened column still prune (same-kind stats survive,
    // fresh ANALYZE covers the new file)
    spark.sql("CALL stage_t.analyze('ws', 'wide', 'k')")
    graft.sources.catalog.ZoneMapScan.lastPrune = None
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.wide WHERE k = 5000000000")
      .collect()(0).getLong(0) === 1L)
    val prune = graft.sources.catalog.ZoneMapScan.lastPrune
    assert(prune.exists { case (kept, total) => total >= 2 && kept < total },
      s"widened-column zone maps did not prune: $prune")
  }

  test("days() transform: NULL timestamps land in the default dir, survive whole-day DELETEs, answer IS NULL") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.tp")
    spark.sql(
      "CREATE TABLE stage_t.ws.tp (k BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    spark.sql(
      """INSERT INTO stage_t.ws.tp VALUES
        |  (1, TIMESTAMP '2024-03-01 10:00:00'), (2, TIMESTAMP '2024-03-01 23:59:59'),
        |  (3, TIMESTAMP '2024-03-02 00:00:00'), (4, TIMESTAMP '2024-03-03 05:00:00'),
        |  (5, NULL), (6, NULL)""".stripMargin)
    StagingMaintenance.optimize(spark, "stage_t", "ws", "tp", partitionBy = Some("days(ts)"))
    // layout: three day dirs + Spark's default dir for the NULL derivations
    val files = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "tp")
    assert(files.count(_.startsWith("ts_day=")) >= 3, files.toString)
    // IS NULL must not be answered by a day file (structural non-null) and
    // the default-partition file must be kept conservatively
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.tp WHERE ts IS NULL")
      .collect()(0).getLong(0) === 2L)
    // whole-day DELETE: day dir drops metadata-only; boundary neighbor
    // (2024-03-02 00:00:00 is EXCLUDED by ts < '2024-03-02') and the NULL
    // rows both survive untouched
    ZoneMapScan.lastDeleteSplit = None
    spark.sql(
      """DELETE FROM stage_t.ws.tp
        |WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
        |  AND ts <  TIMESTAMP '2024-03-02 00:00:00'""".stripMargin)
    val split = ZoneMapScan.lastDeleteSplit
    assert(split.exists { case (_, drop, rew) => drop === 1 && rew === 0 },
      s"whole-day DELETE not metadata-only: $split")
    val left = spark.sql("SELECT k FROM stage_t.ws.tp ORDER BY k").collect().map(_.getLong(0))
    assert(left.toSeq === Seq(3L, 4L, 5L, 6L), left.toSeq.toString)
  }

  test("merge-on-read: keyed MERGE/DELETE write deletion vectors, ZERO file rewrites; OPTIMIZE folds") {
    import spark.implicits._
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.mor")
    spark.sql(
      """CREATE TABLE stage_t.ws.mor (k BIGINT NOT NULL, v BIGINT, s STRING)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read', 'graft.merge-keys'='k')""".stripMargin)
    spark.sql(
      "INSERT INTO stage_t.ws.mor SELECT id, id * 10, concat('s', id) FROM range(0, 800)")
    // the q307 hash-distributed shape: 8 files, each spanning the whole
    // keyspace — the worst case for copy-on-write (every file touched)
    spark.sql("CALL stage_t.optimize('ws', 'mor', 8, NULL, NULL)")
    def files(): Set[String] = graft.sources.catalog.StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "mor").toSet
    val before = files()
    assert(before.size === 8, s"${before.size}")
    val vBefore = spark.sql("CALL stage_t.history('ws', 'mor')").count()
    // CDC batch: update 5 keys spread across the keyspace + insert 3 new
    Seq((5L, 1L, "u5"), (105L, 2L, "u105"), (305L, 3L, "u305"), (505L, 4L, "u505"),
        (705L, 5L, "u705"), (1000L, 6L, "n1000"), (1001L, 7L, "n1001"), (1002L, 8L, "n1002"))
      .toDF("k", "v", "s").createOrReplaceTempView("mor_src")
    spark.sql(
      """MERGE INTO stage_t.ws.mor t USING mor_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v, s = s.s
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = files()
    // ZERO rewrites: every pre-merge file carries BY NAME; only the merge's
    // own row versions are new files
    assert(before.subsetOf(after), "merge-on-read must never rewrite existing files")
    assert((after -- before).nonEmpty, "updated/inserted rows must land as fresh files")
    // content: 803 rows, updated keys show new values exactly once
    assert(spark.table("stage_t.ws.mor").count() === 803)
    val got5 = spark.sql("SELECT v, s FROM stage_t.ws.mor WHERE k = 5").collect()
    assert(got5.length === 1 && got5(0).getLong(0) === 1L && got5(0).getString(1) === "u5")
    // column-pruned read (k not in projection) exercises the widened-schema
    // projection path; aggregate pushdown is disabled under DVs
    val sumV = spark.sql("SELECT sum(v) AS sv FROM stage_t.ws.mor").collect()(0).getLong(0)
    val expSum = (0L until 800L).map(_ * 10).sum - (50L + 1050 + 3050 + 5050 + 7050) +
      (1L + 2 + 3 + 4 + 5) + (6L + 7 + 8)
    assert(sumV === expSum, s"$sumV vs $expSum")
    // keyed DELETE on a MOR table: DV only — the FILE SET is unchanged
    val preDelete = files()
    spark.sql("DELETE FROM stage_t.ws.mor WHERE k = 7")
    assert(files() === preDelete, "MOR DELETE must write no data files")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.mor WHERE k = 7")
      .collect()(0).getLong(0) === 0L)
    assert(spark.table("stage_t.ws.mor").count() === 802)
    // a second MERGE must match the NEW row version, never the ghost
    Seq((5L, 999L, "z5")).toDF("k", "v", "s").createOrReplaceTempView("mor_src2")
    spark.sql(
      """MERGE INTO stage_t.ws.mor t USING mor_src2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v, s = s.s
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got5b = spark.sql("SELECT v FROM stage_t.ws.mor WHERE k = 5").collect()
    assert(got5b.length === 1 && got5b(0).getLong(0) === 999L)
    assert(spark.table("stage_t.ws.mor").count() === 802)
    // time travel: the pre-merge version still reads its original rows; the
    // post-merge version reads under ITS deletion vectors
    assert(spark.sql(
      s"SELECT v FROM stage_t.ws.mor VERSION AS OF $vBefore WHERE k = 5")
      .collect()(0).getLong(0) === 50L)
    val vPostMerge = vBefore + 1
    val tt = spark.sql(
      s"SELECT v FROM stage_t.ws.mor VERSION AS OF $vPostMerge WHERE k = 5").collect()
    assert(tt.length === 1 && tt(0).getLong(0) === 1L,
      s"pinned MOR version must apply its DVs: ${tt.mkString(",")}")
    // row-level diff across the first MERGE: 5 updates (delete+insert pairs)
    // + 3 inserts
    val diff = graft.sources.catalog.StagingMaintenance
      .rowLevelChanges(spark, "stage_t", "ws", "mor", vBefore, vPostMerge)
      .groupBy(col("_change")).agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(diff === Map("delete" -> 5L, "insert" -> 8L), diff.toString)
    // OPTIMIZE folds the DVs: content identical, dv set empty, files compact
    val contentBefore = spark.table("stage_t.ws.mor").orderBy(col("k")).collect().toSeq
    spark.sql("CALL stage_t.optimize('ws', 'mor', 4, NULL, NULL)")
    assert(spark.table("stage_t.ws.mor").orderBy(col("k")).collect().toSeq === contentBefore,
      "OPTIMIZE fold must preserve content")
    assert(graft.sources.catalog.StagingMaintenance
      .activeDvs(spark, "stage_t", "ws", "mor").isEmpty,
      "OPTIMIZE must commit an empty DV set")
    // VACUUM reclaims the superseded DV sidecars with the old versions
    spark.sql("CALL stage_t.vacuum('ws', 'mor', 1)")
    val dvDir = new java.io.File(stageRoot,
      s"ws/mor/${graft.sources.catalog.DeletionVectors.DvDir}")
    val dvLeft = Option(dvDir.listFiles()).map(_.count(_.isFile)).getOrElse(0)
    assert(dvLeft === 0, s"vacuum must reclaim unreferenced DV sidecars, $dvLeft left")
    assert(spark.table("stage_t.ws.mor").count() === 802)
  }

  test("row-level diff replicates duplicate-row multiset deltas exactly (fused diff, r14)") {
    // The r14 single-aggregation diff must keep exceptAll's MULTISET
    // semantics: a row present 3x before and 1x after yields exactly 2
    // delete copies (and net-zero rows cancel entirely).
    mountStage()
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.dupdiff")
    spark.sql("CREATE TABLE stage_t.ws.dupdiff (k BIGINT, v BIGINT)")
    Seq((1L, 10L), (1L, 10L), (1L, 10L), (2L, 20L))
      .toDF("k", "v").createOrReplaceTempView("dup_v1")
    spark.sql("INSERT INTO stage_t.ws.dupdiff SELECT * FROM dup_v1") // v1
    Seq((1L, 10L), (2L, 20L), (2L, 20L), (3L, 30L))
      .toDF("k", "v").createOrReplaceTempView("dup_v2")
    spark.sql("INSERT OVERWRITE stage_t.ws.dupdiff SELECT * FROM dup_v2") // v2
    val diff = graft.sources.catalog.StagingMaintenance
      .rowLevelChanges(spark, "stage_t", "ws", "dupdiff", 1L, 2L)
      .groupBy(col("_change"), col("k"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(diff === Map(("delete", 1L) -> 2L, ("insert", 2L) -> 1L,
      ("insert", 3L) -> 1L), diff.toString)
    // structurally one-sided: a pure append's diff is insert-only
    spark.sql("INSERT INTO stage_t.ws.dupdiff VALUES (9, 90)") // v3
    val appendDiff = graft.sources.catalog.StagingMaintenance
      .rowLevelChanges(spark, "stage_t", "ws", "dupdiff", 2L, 3L)
      .groupBy(col("_change")).agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(appendDiff === Map("insert" -> 1L), appendDiff.toString)
  }

  test("filtered overwrite on a legacy un-versioned table never re-processes its own fresh files") {
    // Regression: the overwrite commit runs AFTER its insert phase landed
    // fresh files; on a table with NO version manifest the delete phase
    // used to fall back to a live directory listing, treating the
    // statement's own fresh files as pre-existing data — a filtered
    // overwrite whose new rows don't all match the filter then rewrote the
    // surviving fresh rows into the remainder AND carried them as fresh,
    // duplicating them. The fix passes the pre-insert listing as the
    // no-manifest current set.
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.legow")
    spark.sql("CREATE TABLE stage_t.ws.legow (k BIGINT, grp STRING)")
    spark.sql("INSERT INTO stage_t.ws.legow SELECT id, 'a' FROM range(0, 50)")
    spark.sql("INSERT INTO stage_t.ws.legow SELECT id, 'b' FROM range(100, 150)")
    // simulate a legacy (pre-versioning) table: drop the manifest dir
    val vd = new java.io.File(stageRoot, "ws/legow/_graft_versions")
    vd.listFiles().foreach(_.delete()); vd.delete()
    // filtered overwrite whose NEW rows do NOT all match the filter: the
    // 'c' row survives its own statement's delete predicate
    import spark.implicits._
    Seq((1000L, "a"), (1001L, "c")).toDF("k", "grp")
      .writeTo("stage_t.ws.legow").overwrite(col("grp") === "a")
    val got = spark.table("stage_t.ws.legow").groupBy(col("grp"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 1L, "b" -> 50L, "c" -> 1L),
      s"fresh surviving rows must appear exactly once: $got")
  }

  test("DEFAULT column values: CREATE-time defaults fill omitted inserts; ADD COLUMN defaults backfill old files at read") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.dft")
    spark.sql(
      "CREATE TABLE stage_t.ws.dft (k BIGINT, v INT DEFAULT 42, tag STRING DEFAULT 'none')")
    // INSERT omitting defaulted columns — the analyzer fills CURRENT_DEFAULT
    spark.sql("INSERT INTO stage_t.ws.dft (k) VALUES (1), (2)")
    spark.sql("INSERT INTO stage_t.ws.dft VALUES (3, 7, 'set')")
    spark.sql("INSERT INTO stage_t.ws.dft (k, v) VALUES (4, DEFAULT)")
    val rows = spark.table("stage_t.ws.dft").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(rows === Set((1L, 42, "none"), (2L, 42, "none"), (3L, 7, "set"),
      (4L, 42, "none")), rows)
    // ADD COLUMN with DEFAULT: rows in files written BEFORE the alter
    // surface the default, not NULL (EXISTS_DEFAULT through the reader)
    spark.sql("ALTER TABLE stage_t.ws.dft ADD COLUMN score INT DEFAULT 5")
    val backfilled = spark.sql("SELECT k, score FROM stage_t.ws.dft").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(backfilled.values.forall(_ === 5), s"old files must surface the default: $backfilled")
    // new inserts still fill it when omitted
    spark.sql("INSERT INTO stage_t.ws.dft (k) VALUES (9)")
    assert(spark.sql("SELECT score FROM stage_t.ws.dft WHERE k = 9")
      .collect()(0).getInt(0) === 5)
  }

  test("unknown namespace and table fail with the standard analysis errors") {
    mount()
    val e = intercept[Exception] { spark.sql("SHOW TABLES IN graft_cat.`nope`").collect() }
    assert(e.getMessage.contains("nope"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_cat.`sf0.001`.missing").collect()
    }
    assert(e2.getMessage.contains("missing"), e2.getMessage)
  }

  test("version tags: pin against VACUUM, resolve in VERSION AS OF, reclaim on drop_tag") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.tg")
    spark.sql("CREATE TABLE stage_t.ws.tg AS SELECT id AS k FROM range(0, 100)")
    spark.sql("CALL stage_t.tag('ws', 'tg', 'gold')")
    // tag names must not collide with the numeric version namespace
    val bad = intercept[Exception] { spark.sql("CALL stage_t.tag('ws', 'tg', 'v2')").collect() }
    assert(bad.getMessage.contains("version number"), bad.getMessage)
    // …and must be sidecar-safe: a tab or newline would corrupt the TSV tags
    // sidecar and break every later tag parse (r9 advisory)
    val tab = intercept[Exception] {
      spark.sql("CALL stage_t.tag('ws', 'tg', 'a\tb')").collect()
    }
    assert(tab.getMessage.contains("[\\w.-]+"), tab.getMessage)
    // nonexistent version refused
    val nov = intercept[Exception] {
      spark.sql("CALL stage_t.tag('ws', 'tg', 'later', 9)").collect()
    }
    assert(nov.getMessage.contains("no version 9"), nov.getMessage)
    spark.sql("INSERT INTO stage_t.ws.tg SELECT id FROM range(100, 150)") // v2
    spark.sql("INSERT INTO stage_t.ws.tg SELECT id FROM range(150, 160)") // v3
    spark.sql("CALL stage_t.vacuum('ws', 'tg', 1)")
    // v1 pinned by the tag, v3 is head, v2 reclaimed
    val vs = spark.sql("CALL stage_t.history('ws', 'tg')").collect().map(_.getLong(0)).toSet
    assert(vs === Set(1L, 3L), vs)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.tg VERSION AS OF 'gold'")
      .collect()(0).getLong(0) === 100L)
    // an unknown tag lists the available ones
    val unk = intercept[Exception] {
      spark.sql("SELECT * FROM stage_t.ws.tg VERSION AS OF 'nope'").collect()
    }
    assert(unk.getMessage.contains("gold"), unk.getMessage)
    // drop_tag releases the pin: the next vacuum reclaims v1
    spark.sql("CALL stage_t.drop_tag('ws', 'tg', 'gold')")
    spark.sql("CALL stage_t.vacuum('ws', 'tg', 1)")
    val vs2 = spark.sql("CALL stage_t.history('ws', 'tg')").collect().map(_.getLong(0)).toSet
    assert(vs2 === Set(3L), vs2)
    assert(spark.sql("CALL stage_t.tags('ws', 'tg')").collect().isEmpty)
    assert(spark.table("stage_t.ws.tg").count() === 160L) // current unharmed
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.tg")
  }

  test("graft.sort-order: every append lands range-disjoint sorted files; ranges stay disjoint per commit") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.soa")
    spark.sql(
      """CREATE TABLE stage_t.ws.soa (k BIGINT, v STRING)
        |TBLPROPERTIES ('graft.sort-order'='k', 'graft.target-file-size'='1024')""".stripMargin)
    // unknown sort column fails at CREATE, not first insert
    val bad = intercept[Exception] {
      spark.sql("""CREATE TABLE stage_t.ws.soa_bad (k BIGINT)
        |TBLPROPERTIES ('graft.sort-order'='nope')""".stripMargin)
    }
    assert(bad.getMessage.contains("nope"), bad.getMessage)
    val minKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val saved = spark.conf.getOption(minKey)
    spark.conf.set(minKey, "256") // test-scale: below AQE's 1 MiB prod floor
    try {
      // two hint-free appends from an UNSORTED source
      spark.sql("INSERT INTO stage_t.ws.soa SELECT CAST((id * 37) % 4000 AS BIGINT), " +
        "CAST(id AS STRING) FROM range(0, 2000)")
      spark.sql("INSERT INTO stage_t.ws.soa SELECT CAST((id * 53) % 4000 AS BIGINT), " +
        "CAST(id AS STRING) FROM range(2000, 4000)")
    } finally saved match {
      case Some(v) => spark.conf.set(minKey, v)
      case None    => spark.conf.unset(minKey)
    }
    val dir = new org.apache.hadoop.fs.Path(stageRoot, "ws/soa")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // per commit: every appended file set has pairwise-DISJOINT [min,max]
    // on the sort key — the zone-map-prunable layout, straight from INSERT
    val hist = spark.sql("CALL stage_t.history('ws', 'soa')").collect()
    assert(hist.length >= 2, s"expected 2 append versions, got ${hist.length}")
    val byVersion = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "soa")
    assert(byVersion.size >= 4, s"each append should land several files: $byVersion")
    def ranges(files: Seq[String]): Seq[(Long, Long)] = files.map { f =>
      val r = spark.read.parquet(new org.apache.hadoop.fs.Path(dir, f).toString)
        .agg(min(col("k")), max(col("k"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // files of ONE commit are range-disjoint (files of different commits
    // may overlap — that is OPTIMIZE's job to fold)
    val m1 = StagingMaintenance.filesAtVersion(spark, "stage_t", "ws", "soa", 1L)
    val m2 = StagingMaintenance.filesAtVersion(spark, "stage_t", "ws", "soa", 2L)
      .filterNot(m1.toSet)
    for (fileSet <- Seq(m1, m2)) {
      val rs = ranges(fileSet).sortBy(_._1)
      rs.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(e1 < s2, s"overlapping ranges in one commit: $rs")
        case _ => ()
      }
      // and each file is internally sorted (writer received ordered rows)
      fileSet.take(1).foreach { f =>
        val ks = spark.read.parquet(new org.apache.hadoop.fs.Path(dir, f).toString)
          .select(col("k")).collect().map(_.getLong(0))
        assert(ks.sameElements(ks.sorted), "rows inside an appended file must be key-sorted")
      }
    }
    // zone maps prune a key band to a file subset after plain ANALYZE
    StagingMaintenance.analyze(spark, "stage_t", "ws", "soa", Seq("k"))
    graft.sources.catalog.ZoneMapScan.lastPrune = None
    spark.sql("SELECT count(*) FROM stage_t.ws.soa WHERE k < 500").collect()
    val prune = graft.sources.catalog.ZoneMapScan.lastPrune
    assert(prune.exists { case (kept, total) => kept < total }, s"no pruning: $prune")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.soa")
  }

  test("BoundedMorMerge: plain ON merge prunes via the engine-injected envelope; BY SOURCE merges stay unbounded and correct") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.bmm")
    spark.sql(
      """CREATE TABLE stage_t.ws.bmm (k BIGINT NOT NULL, v BIGINT)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read',
        |               'graft.merge-keys'='k')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.bmm " +
      "SELECT /*+ REPARTITION_BY_RANGE(8, id) */ id AS k, id AS v FROM range(0, 800)")
    StagingMaintenance.analyze(spark, "stage_t", "ws", "bmm", Seq("k"))
    // 1. a PLAIN `ON t.k = s.k` upsert (no hand-written bound): the rule
    // derives the source envelope [100,120] and the scan skips files
    graft.sources.catalog.ZoneMapScan.lastPrune = None
    spark.sql(
      """MERGE INTO stage_t.ws.bmm t
        |USING (SELECT id AS k, -1L AS v FROM range(100, 121)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val prune = graft.sources.catalog.ZoneMapScan.lastPrune
    assert(prune.exists { case (kept, total) => kept < total },
      s"engine did not inject the merge envelope: $prune")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.bmm WHERE v = -1")
      .collect()(0).getLong(0) === 21L)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.bmm")
      .collect()(0).getLong(0) === 800L)
    // 2. POLARITY GUARD: a NOT MATCHED BY SOURCE merge plans a
    // target-preserving join — the rule must NOT bound it, so target rows
    // far outside the source envelope still reach the BY SOURCE arm
    spark.sql(
      """MERGE INTO stage_t.ws.bmm t
        |USING (SELECT id AS k, -2L AS v FROM range(100, 121)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED BY SOURCE AND t.k >= 700 THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.bmm")
      .collect()(0).getLong(0) === 700L,
      "BY SOURCE merge missed out-of-envelope target rows — polarity guard broken")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.bmm WHERE v = -2")
      .collect()(0).getLong(0) === 21L)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.bmm")
  }

  test("position-delete DVs: keyless MOR deletes rewrite nothing, reads/time-travel/UPDATE respect them, OPTIMIZE folds") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pd")
    spark.sql(
      """CREATE TABLE stage_t.ws.pd (k BIGINT, v STRING)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.pd SELECT /*+ REPARTITION_BY_RANGE(4, id) */ " +
      "id AS k, CAST(id AS STRING) AS v FROM range(0, 400)")
    StagingMaintenance.analyze(spark, "stage_t", "ws", "pd", Seq("k"))
    val before = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pd").toSet
    def count(where: String = ""): Long =
      spark.sql(s"SELECT count(*) FROM stage_t.ws.pd $where").collect()(0).getLong(0)
    // v2: band delete → one position sidecar, ZERO file changes
    spark.sql("DELETE FROM stage_t.ws.pd WHERE k >= 100 AND k < 150")
    assert(StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pd").toSet === before,
      "position delete rewrote files")
    assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pd").nonEmpty)
    assert(count() === 350L)
    assert(count("WHERE k >= 100 AND k < 150") === 0L)
    // data filters stay correct while unpushed (re-evaluated above the scan)
    assert(count("WHERE k = 120") === 0L && count("WHERE k = 200") === 1L)
    // time travel pins each version's position DVs
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.pd VERSION AS OF 1")
      .collect()(0).getLong(0) === 400L)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.pd VERSION AS OF 2")
      .collect()(0).getLong(0) === 350L)
    // v3: OVERLAPPING delete — suppressed rows never re-match
    spark.sql("DELETE FROM stage_t.ws.pd WHERE k >= 140 AND k < 160")
    assert(count() === 340L)
    assert(StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pd").toSet === before)
    // v4: UPDATE through the group-based COW path on a file carrying pos
    // DVs — the rewrite must read UNDER them (no resurrection) and the
    // commit must carry the sidecars for untouched files
    spark.sql("UPDATE stage_t.ws.pd SET v = 'w' WHERE k >= 150 AND k < 170")
    assert(count() === 340L, "UPDATE resurrected position-deleted rows")
    assert(count("WHERE v = 'w'") === 10L) // only the VISIBLE [160,170) rows
    assert(count("WHERE k >= 100 AND k < 160") === 0L,
      "carried files lost their position DVs across the UPDATE commit")
    // OPTIMIZE folds: head becomes DV-free, rows unchanged, pushdown returns
    StagingMaintenance.optimize(spark, "stage_t", "ws", "pd", targetFiles = 2)
    assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pd").isEmpty,
      "OPTIMIZE did not fold position DVs")
    assert(count() === 340L && count("WHERE k = 200") === 1L)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pd")
  }

  test("position DVs keep parquet pushdown: PushedFilters reach the scan and row groups skip under active sidecars") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdp")
    spark.sql(
      """CREATE TABLE stage_t.ws.pdp (k BIGINT, v STRING)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read')""".stripMargin)
    // one sorted 200k-row file with tiny (64 KiB) row groups → disjoint
    // per-group [min,max] on k; a tight range predicate can only stay fast
    // if it still pushes to parquet WHILE position DVs are active
    spark.conf.set("parquet.block.size", "65536")
    try {
      spark.sql("INSERT INTO stage_t.ws.pdp SELECT id AS k, " +
        "md5(CAST(id AS STRING)) AS v FROM range(0, 200000, 1, 1)")
    } finally spark.conf.unset("parquet.block.size")
    val before = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pdp").toSet
    spark.sql("DELETE FROM stage_t.ws.pdp WHERE k >= 50000 AND k < 50100")
    assert(StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pdp").toSet === before,
      "position delete rewrote files")
    assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pdp").nonEmpty)
    // the plan still shows parquet pushdown under active position DVs
    val df = spark.sql("SELECT k, v FROM stage_t.ws.pdp WHERE k >= 100000 AND k < 100100")
    val planTxt = df.queryExecution.executedPlan.toString
    assert(planTxt.contains("PushedFilters: [") && !planTxt.contains("PushedFilters: []"),
      s"position-DV scan lost parquet pushdown:\n$planTxt")
    // row-group SKIP metric: the reader pulls a small fraction of the file
    ZoneMapScan.posRowsRead.clear()
    assert(df.collect().length === 100)
    val seen = {
      import scala.jdk.CollectionConverters._
      ZoneMapScan.posRowsRead.asScala.filter(_._1.endsWith("ws/pdp")).values
        .map(_.longValue).sum
    }
    assert(seen >= 100L && seen < 20000L,
      s"row groups not skipped under position DVs: reader pulled $seen of 200000 rows")
    // ordinal correctness UNDER skipping: a selective read over the deleted
    // band suppresses exactly the deleted ordinals (a desynced counter
    // would drop the wrong rows)
    def cnt(w: String) =
      spark.sql(s"SELECT count(*) FROM stage_t.ws.pdp $w").collect()(0).getLong(0)
    assert(cnt("WHERE k >= 49990 AND k < 50110") === 20L)
    assert(cnt("WHERE k = 50050") === 0L && cnt("WHERE k = 49999") === 1L)
    assert(cnt("") === 199900L)
    // pinned read rides the same path
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.pdp VERSION AS OF 2 WHERE k < 60000")
      .collect()(0).getLong(0) === 59900L)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdp")
  }

  test("position-delete bound: a broad keyless DELETE falls back to COW instead of materializing the ordinal set") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdb")
    spark.sql(
      """CREATE TABLE stage_t.ws.pdb (k BIGINT, v STRING)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.pdb SELECT /*+ REPARTITION_BY_RANGE(4, id) */ " +
      "id AS k, CAST(id AS STRING) AS v FROM range(0, 1000)")
    StagingMaintenance.analyze(spark, "stage_t", "ws", "pdb", Seq("k"))
    def count(where: String = ""): Long =
      spark.sql(s"SELECT count(*) FROM stage_t.ws.pdb $where").collect()(0).getLong(0)
    val before = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pdb").toSet
    // a tiny cap forces the structural bound to show at test scale; the
    // LIMIT in posDeleteWhere guarantees ≤ cap+1 rows ever reach the driver.
    // The distributed ceiling drops below the broad match too (r13), so
    // this test still pins the COW fallback band above BOTH sidecar modes.
    spark.conf.set("spark.graft.pos-delete.max-matched-rows", "50")
    spark.conf.set("spark.graft.pos-delete.max-distributed-rows", "100")
    try {
      // selective delete (≤ cap): the zero-rewrite DV economy is kept
      spark.sql("DELETE FROM stage_t.ws.pdb WHERE k >= 100 AND k < 140")
      assert(ZoneMapScan.lastPosDeleteMode === Some("dv"))
      assert(StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pdb").toSet === before,
        "selective position delete rewrote files")
      assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pdb").nonEmpty)
      assert(count() === 960L)
      // BROAD delete (matched ≫ cap): falls back to the file-granular COW
      // rewrite — no ordinal sidecar grows, and the in-force sidecars are
      // carried so earlier suppressed rows stay suppressed (k in [100,140)
      // overlaps the surviving half only at [100,140) itself, so check the
      // untouched band too)
      val dvsBefore = StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pdb").size
      spark.sql("DELETE FROM stage_t.ws.pdb WHERE k >= 500")
      assert(ZoneMapScan.lastPosDeleteMode === Some("cow-fallback"),
        "broad delete did not take the COW fallback")
      assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pdb").size === dvsBefore,
        "fallback wrote a position sidecar anyway")
      assert(count() === 460L) // 500 survivors minus the 40 DV'd in [100,140)
      assert(count("WHERE k >= 500") === 0L)
      assert(count("WHERE k >= 100 AND k < 140") === 0L,
        "COW fallback resurrected position-deleted rows")
      assert(count("WHERE k = 99") === 1L && count("WHERE k = 140") === 1L)
      // time travel still pins the pre-fallback version
      assert(spark.sql("SELECT count(*) FROM stage_t.ws.pdb VERSION AS OF 2")
        .collect()(0).getLong(0) === 960L)
      // zone-mapped fully-matching files may drop metadata-only; the split
      // diagnostic proves the statement went through the COW kernel
      assert(ZoneMapScan.lastDeleteSplit.isDefined)
    } finally {
      spark.conf.unset("spark.graft.pos-delete.max-matched-rows")
      spark.conf.unset("spark.graft.pos-delete.max-distributed-rows")
    }
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdb")
  }

  test("position-delete distributed sidecars: over-cap DELETE writes per-file run sidecars, reads exact, fold + vacuum reclaim") {
    import graft.sources.catalog.{DeletionVectors, StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdd")
    spark.sql(
      """CREATE TABLE stage_t.ws.pdd (k BIGINT, v STRING)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.pdd SELECT /*+ REPARTITION_BY_RANGE(4, id) */ " +
      "id AS k, CAST(id AS STRING) AS v FROM range(0, 1000)")
    StagingMaintenance.analyze(spark, "stage_t", "ws", "pdd", Seq("k"))
    def count(where: String = ""): Long =
      spark.sql(s"SELECT count(*) FROM stage_t.ws.pdd $where").collect()(0).getLong(0)
    val tblDir = new org.apache.hadoop.fs.Path(s"$stageRoot/ws/pdd")
    val fs = tblDir.getFileSystem(spark.sessionState.newHadoopConf())
    val dvDir = new org.apache.hadoop.fs.Path(tblDir, DeletionVectors.DvDir)
    val before = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pdd").toSet
    spark.conf.set("spark.graft.pos-delete.max-matched-rows", "50")
    try {
      // matched = 200 keys in two disjoint bands (the predicate must stay
      // V1-translatable to reach the position path; the two bands make the
      // run encoding non-trivial) — over the 50-row driver cap, under the
      // distributed ceiling: executors write run sidecars, the driver
      // never holds an ordinal (structurally: the locating collect is
      // LIMIT-capped at 51, and the committed descriptor maps files to
      // run-FILE names only)
      spark.sql("DELETE FROM stage_t.ws.pdd WHERE (k >= 100 AND k < 200) " +
        "OR (k >= 250 AND k < 350)")
      assert(ZoneMapScan.lastPosDeleteMode === Some("dv-distributed"),
        s"expected the distributed sidecar path, got ${ZoneMapScan.lastPosDeleteMode}")
      assert(StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pdd").toSet
        === before, "distributed position delete rewrote files")
      val dvs = StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pdd")
      assert(dvs.size === 1 && dvs.head.startsWith("dvr-"), dvs.toString)
      // the loaded state is run REFERENCES, not materialized ordinals
      val loaded = DeletionVectors.Deletes.load(fs, tblDir, DeletionVectors.MorMode.Pos, dvs).pos
      assert(loaded.map.isEmpty && loaded.runs.nonEmpty,
        s"distributed sidecar materialized a driver map: $loaded")
      // covered files are exactly the two range files holding k < 400
      assert(loaded.runs.size === 2, loaded.runs.keys.toString)
      assert(loaded.runs.values.forall(_.nonEmpty))
      val descriptor = {
        val in = fs.open(new org.apache.hadoop.fs.Path(dvDir, dvs.head))
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }
      assert(descriptor.contains("\"rows\":200"), descriptor)
      // exactness: the two bands suppressed, everything else intact
      assert(count() === 800L)
      assert(count("WHERE k < 400") === 200L)
      assert(count("WHERE k = 150") === 0L && count("WHERE k = 99") === 1L)
      assert(count("WHERE k = 200") === 1L && count("WHERE k = 250") === 0L)
      assert(count("WHERE k = 349") === 0L && count("WHERE k = 350") === 1L)
      // pushdown survives (row-index mode): predicates still reach parquet
      val planTxt = spark.sql("SELECT k, v FROM stage_t.ws.pdd WHERE k >= 400 AND k < 500")
        .queryExecution.executedPlan.toString
      assert(planTxt.contains("PushedFilters: [") && !planTxt.contains("PushedFilters: []"),
        s"distributed-DV scan lost parquet pushdown:\n$planTxt")
      // overlapping SECOND delete: suppressed rows never re-match — the
      // [0,40) band is untouched by the first delete, 40 ≤ cap ⇒ inline
      spark.sql("DELETE FROM stage_t.ws.pdd WHERE k < 40")
      assert(ZoneMapScan.lastPosDeleteMode === Some("dv"))
      assert(count("WHERE k < 40") === 0L && count() === 760L)
      // time travel pins the between state (v2 = after the first delete)
      assert(spark.sql("SELECT count(*) FROM stage_t.ws.pdd VERSION AS OF 2")
        .collect()(0).getLong(0) === 800L)
      // UPDATE (a position DELTA since r13) reads UNDER the run sidecars
      // — suppressed rows never re-match — and carries them forward
      spark.sql("UPDATE stage_t.ws.pdd SET v = 'hot' WHERE k >= 900")
      assert(count("WHERE v = 'hot'") === 100L)
      assert(count("WHERE k = 150") === 0L, "UPDATE resurrected a run-suppressed row")
      assert(count() === 760L)
      // OPTIMIZE folds every sidecar kind away
      StagingMaintenance.optimize(spark, "stage_t", "ws", "pdd", targetFiles = 2)
      assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pdd").isEmpty)
      assert(count() === 760L && count("WHERE k = 150") === 0L)
      // vacuum with zero retention + zero temp TTL reclaims the descriptor
      // AND its run dir (no retained manifest references them post-fold)
      spark.conf.set("spark.graft.vacuum.temp-ttl-ms", "0")
      Thread.sleep(5) // tree mtimes must fall strictly before the horizon
      spark.sql("CALL stage_t.vacuum('ws', 'pdd', 1)")
      val left = (try fs.listStatus(dvDir).toIndexedSeq
        catch { case _: java.io.FileNotFoundException => IndexedSeq.empty })
        .map(_.getPath.getName).filter(_.startsWith("dvr-"))
      assert(left.isEmpty, s"vacuum left distributed sidecar artifacts: $left")
      assert(count() === 760L)
    } finally {
      spark.conf.unset("spark.graft.pos-delete.max-matched-rows")
      spark.conf.unset("spark.graft.vacuum.temp-ttl-ms")
    }
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdd")
  }

  test("writable branches: WAP isolation, publish conflict, branch DELETE, vacuum exemption, drop reclaims") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.wap")
    spark.sql("CREATE TABLE stage_t.ws.wap AS SELECT id AS k FROM range(0, 100)")
    // fork + branch ingest: main must see NOTHING
    spark.sql("CALL stage_t.branch('ws', 'wap', 'cand')")
    spark.sql("INSERT INTO stage_t.ws.wap.branch_cand SELECT id FROM range(100, 150)")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.wap").collect()(0).getLong(0) === 100L)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.wap.branch_cand")
      .collect()(0).getLong(0) === 150L)
    // the branch face takes DML (r11): a DELETE fixes the candidate corpus
    // ON the branch — main still sees k=0 until publish
    spark.sql("DELETE FROM stage_t.ws.wap.branch_cand WHERE k = 120")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.wap.branch_cand")
      .collect()(0).getLong(0) === 149L)
    spark.sql("INSERT INTO stage_t.ws.wap.branch_cand VALUES (120)") // restore for later counts
    // vacuum while the branch lives: branch-only files survive (exempt)
    spark.sql("CALL stage_t.vacuum('ws', 'wap', 1)")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.wap.branch_cand")
      .collect()(0).getLong(0) === 150L, "vacuum reclaimed live branch files")
    // CONFLICT: a commit lands on MAIN after the fork → publish refuses
    spark.sql("INSERT INTO stage_t.ws.wap SELECT id FROM range(1000, 1010)")
    val conflict = intercept[Exception] {
      spark.sql("CALL stage_t.publish('ws', 'wap', 'cand')").collect()
    }
    assert(exMessages(conflict).exists(_.contains("publish conflict")), conflict.getMessage)
    // the failed candidate is dropped; its files become orphans and vacuum
    // reclaims them; main is exactly its own commits
    spark.sql("CALL stage_t.drop_branch('ws', 'wap', 'cand')")
    val unknown = intercept[Exception] {
      spark.sql("SELECT count(*) FROM stage_t.ws.wap.branch_cand").collect()
    }
    assert(exMessages(unknown).exists(_.contains("no branch")), unknown.getMessage)
    spark.sql("CALL stage_t.vacuum('ws', 'wap', 1)")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.wap").collect()(0).getLong(0) === 110L)
    // happy path on the advanced main: branch → ingest → publish
    spark.sql("CALL stage_t.branch('ws', 'wap', 'cand2')")
    spark.sql("INSERT INTO stage_t.ws.wap.branch_cand2 SELECT id FROM range(2000, 2020)")
    val bs = StagingMaintenance.branches(spark, "stage_t", "ws", "wap")
    assert(bs.contains("cand2") && bs("cand2")._2 > bs("cand2")._1, bs.toString)
    spark.sql("CALL stage_t.publish('ws', 'wap', 'cand2')")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.wap").collect()(0).getLong(0) === 130L)
    assert(StagingMaintenance.branches(spark, "stage_t", "ws", "wap").isEmpty)
    // published history reads back: the branch commit is now a main version
    val hist = spark.sql("CALL stage_t.history('ws', 'wap')").collect().map(_.getLong(0))
    assert(hist.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.wap")
  }

  test("keyless MOR position deltas: UPDATE/MERGE/modulo-DELETE write run sidecars instead of rewriting; provenance columns; fold") {
    import graft.sources.catalog.{StagingMaintenance}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdu")
    spark.sql(
      """CREATE TABLE stage_t.ws.pdu (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.pdu SELECT /*+ REPARTITION_BY_RANGE(4, id) */ " +
      "id, id * 10 FROM range(0, 1000)")
    StagingMaintenance.analyze(spark, "stage_t", "ws", "pdu", Seq("k"))
    def files(): Set[String] =
      StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "pdu").toSet
    def agg(): (Long, Long) = {
      val r = spark.sql(
        "SELECT count(*), CAST(sum(v) AS BIGINT) FROM stage_t.ws.pdu").collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val f0 = files()
    val base = (0L until 1000L).map(_ * 10L).sum
    assert(agg() === ((1000L, base)))
    // UPDATE with an untranslatable predicate: previously a whole-file COW
    // rewrite; now a POSITION DELTA — every pre-existing file survives BY
    // NAME, the replaced ordinals land as a run descriptor, and the 100
    // replacement rows are the only new files
    spark.sql("UPDATE stage_t.ws.pdu SET v = v + 5 WHERE k % 10 = 3")
    val f1 = files()
    assert(f0.subsetOf(f1), s"position-delta UPDATE rewrote ${(f0 -- f1).size} files")
    assert(f1.size > f0.size, "UPDATE wrote no replacement files")
    val dvs1 = StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pdu")
    assert(dvs1.size === 1 && dvs1.head.startsWith("dvr-"), dvs1.toString)
    assert(agg() === ((1000L, base + 5L * 100L)))
    // ghosts never re-match: the same predicate hits the REPLACEMENT rows
    spark.sql("UPDATE stage_t.ws.pdu SET v = v + 5 WHERE k % 10 = 3")
    assert(agg() === ((1000L, base + 10L * 100L)))
    assert(files().intersect(f0) === f0)
    // position provenance in plain SQL: (file, pos) is unique and file
    // count matches the live layout
    val prov = spark.sql(
      "SELECT _graft_file, _graft_pos, k FROM stage_t.ws.pdu").collect()
    assert(prov.length === 1000)
    assert(prov.map(r => (r.getString(0), r.getLong(1))).toSet.size === 1000,
      "duplicate (file, pos) row ids")
    assert(prov.map(_.getString(0)).toSet.subsetOf(files()))
    // MERGE: matched keys update (delta), unmatched insert — still no
    // rewrite of any pre-existing file
    val fPre = files()
    spark.sql(
      """MERGE INTO stage_t.ws.pdu t
        |USING (SELECT id AS k, CAST(1 AS BIGINT) AS v FROM range(990, 1010)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = 0
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(fPre.subsetOf(files()), "keyless MERGE rewrote files")
    val matchedOld = (990L until 1000L)
      .map(k => k * 10L + (if (k % 10 == 3) 10L else 0L)).sum
    assert(agg() === ((1010L, base + 1000L - matchedOld + 10L)))
    // modulo DELETE (untranslatable for the metadata path): delete-only
    // delta — zero new data files, one more descriptor
    val fDel = files()
    val dvsPre = StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pdu").size
    spark.sql("DELETE FROM stage_t.ws.pdu WHERE k % 100 = 7 AND k < 500")
    assert(files() === fDel, "delete-only delta wrote or removed data files")
    assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pdu").size === dvsPre + 1)
    val delSum = (0L until 500L).filter(_ % 100 == 7)
      .map(k => k * 10L + (if (k % 10 == 3) 10L else 0L)).sum
    assert(agg() === ((1005L, base + 1000L - matchedOld + 10L - delSum)))
    // time travel pins the pre-MERGE state
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.pdu VERSION AS OF 3")
      .collect()(0).getLong(0) === 1000L)
    // OPTIMIZE folds every sidecar away; totals stable
    StagingMaintenance.optimize(spark, "stage_t", "ws", "pdu", targetFiles = 2)
    assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "pdu").isEmpty)
    assert(agg() === ((1005L, base + 1000L - matchedOld + 10L - delSum)))
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdu")
  }

  test("branch-face position deltas: pos-delta UPDATE on the branch, main isolated, publish carries run sidecars") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.bpd")
    spark.sql(
      """CREATE TABLE stage_t.ws.bpd (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.bpd SELECT id, id * 10 FROM range(0, 200)")
    def sumOf(face: String): Long = spark.sql(
      s"SELECT CAST(sum(v) AS BIGINT) FROM $face").collect()(0).getLong(0)
    val base = (0L until 200L).map(_ * 10L).sum
    spark.sql("CALL stage_t.branch('ws', 'bpd', 'cand')")
    val mainFiles = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "bpd").toSet
    // pos-delta UPDATE on the BRANCH face (modulo ⇒ must ride the delta op)
    spark.sql("UPDATE stage_t.ws.bpd.branch_cand SET v = v + 1 WHERE k % 4 = 1")
    assert(sumOf("stage_t.ws.bpd") === base, "branch delta leaked into main")
    assert(sumOf("stage_t.ws.bpd.branch_cand") === base + 50L)
    assert(StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "bpd").toSet
      === mainFiles, "branch delta changed main's file set")
    assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "bpd").isEmpty,
      "branch delta's sidecar leaked into main's head")
    // publish fast-forwards the delta version: main now reads through the
    // run sidecars and keeps every original file
    spark.sql("CALL stage_t.publish('ws', 'bpd', 'cand')")
    assert(sumOf("stage_t.ws.bpd") === base + 50L)
    assert(mainFiles.subsetOf(
      StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "bpd").toSet),
      "publish lost the carried originals")
    val dvs = StagingMaintenance.activeDvs(spark, "stage_t", "ws", "bpd")
    assert(dvs.size === 1 && dvs.head.startsWith("dvr-"), dvs.toString)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.bpd")
  }

  test("rebase replays position-delta branch commits onto an advanced main; run sidecars carry") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rbd")
    spark.sql(
      """CREATE TABLE stage_t.ws.rbd (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.rbd SELECT id, id * 10 FROM range(0, 200)")
    spark.sql("CALL stage_t.branch('ws', 'rbd', 'cand')")
    // branch: a position-delta UPDATE (modulo ⇒ the delta op; its run
    // descriptor lives only in the branch log)
    spark.sql("UPDATE stage_t.ws.rbd.branch_cand SET v = v + 1 WHERE k % 4 = 1")
    // main advances past the fork: publish must refuse, rebase is the path
    spark.sql("INSERT INTO stage_t.ws.rbd SELECT id, id * 10 FROM range(1000, 1050)")
    val conflict = intercept[Exception] {
      spark.sql("CALL stage_t.publish('ws', 'rbd', 'cand')").collect()
    }
    assert(exMessages(conflict).exists(_.contains("publish conflict")), conflict.getMessage)
    spark.sql("CALL stage_t.rebase('ws', 'rbd', 'cand')")
    spark.sql("CALL stage_t.publish('ws', 'rbd', 'cand')")
    // main = both appends + the branch's delta: ks 0..199 patched on %4=1,
    // ks 1000..1049 untouched (post-fork, invisible to the branch UPDATE)
    val base = (0L until 200L).map(_ * 10L).sum + 50L +
      (1000L until 1050L).map(_ * 10L).sum
    val r = spark.sql(
      "SELECT count(*), CAST(sum(v) AS BIGINT) FROM stage_t.ws.rbd").collect()(0)
    assert(r.getLong(0) === 250L && r.getLong(1) === base,
      s"rebased position delta lost or doubled rows: $r")
    // the replayed version still reads through the branch's run descriptor
    val dvs = StagingMaintenance.activeDvs(spark, "stage_t", "ws", "rbd")
    assert(dvs.size === 1 && dvs.head.startsWith("dvr-"), dvs.toString)
    assert(spark.sql(
      "SELECT count(*) FROM stage_t.ws.rbd WHERE v % 10 = 1").collect()(0).getLong(0)
      === 50L, "patched rows lost their delta after rebase")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rbd")
  }

  test("optimize scope='dvs': folds accreted position sidecars into one descriptor, zero data files move") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.dvc")
    spark.sql(
      """CREATE TABLE stage_t.ws.dvc (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.dvc SELECT /*+ REPARTITION_BY_RANGE(4, id) */ " +
      "id, id * 10 FROM range(0, 1000)")
    StagingMaintenance.analyze(spark, "stage_t", "ws", "dvc", Seq("k"))
    // accrete sidecars of BOTH kinds: two inline (translatable, under cap)
    // deletes, one distributed (over-cap) delete, one pos-delta UPDATE
    spark.sql("DELETE FROM stage_t.ws.dvc WHERE k >= 10 AND k < 30")
    spark.sql("DELETE FROM stage_t.ws.dvc WHERE k >= 700 AND k < 720")
    spark.conf.set("spark.graft.pos-delete.max-matched-rows", "50")
    try spark.sql("DELETE FROM stage_t.ws.dvc WHERE k >= 400 AND k < 500")
    finally spark.conf.unset("spark.graft.pos-delete.max-matched-rows")
    spark.sql("UPDATE stage_t.ws.dvc SET v = v + 1 WHERE k % 9 = 5")
    def dvs() = StagingMaintenance.activeDvs(spark, "stage_t", "ws", "dvc")
    def files() = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "dvc").toSet
    def agg(): (Long, Long) = {
      val r = spark.sql(
        "SELECT count(*), CAST(sum(v) AS BIGINT) FROM stage_t.ws.dvc").collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(dvs().size === 4, dvs().toString)
    val fPre = files()
    val pre = agg()
    // the fold: one descriptor, same data files, identical reads
    val (b, a, v) = StagingMaintenance.compactDvs(spark, "stage_t", "ws", "dvc")
    assert(b === 4 && a === 1 && v > 0)
    assert(dvs().size === 1 && dvs().head.startsWith("dvr-"))
    assert(files() === fPre, "DV-only compaction moved data files")
    assert(agg() === pre, "DV-only compaction changed visible rows")
    // the CALL face and idempotence (a single descriptor is a no-op)
    assert(spark.sql("CALL stage_t.optimize('ws', 'dvc', scope => 'dvs')")
      .collect()(0).getInt(1) === 1)
    // time travel still reads the PRE-fold version through its own sidecars
    assert(spark.sql(s"SELECT count(*) FROM stage_t.ws.dvc VERSION AS OF ${v - 1}")
      .collect()(0).getLong(0) === pre._1)
    // subsequent deltas stack on the folded state and stay exact
    spark.sql("DELETE FROM stage_t.ws.dvc WHERE k >= 950")
    assert(agg()._1 === pre._1 - 50L)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.dvc")
  }

  test("change feed of position-delta versions: keyless pairs by stable columns, lineage pairs by row id") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    // keyless, no lineage: the UPDATE's delta version serves content-paired
    // update images (k untouched ⇒ stable column) through the batch face
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdc")
    spark.sql(
      """CREATE TABLE stage_t.ws.pdc (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.pdc SELECT id, id * 10 FROM range(0, 200)")
    spark.sql("UPDATE stage_t.ws.pdc SET v = v + 1 WHERE k % 4 = 1") // v2, delta
    val feed = spark.sql(
      """SELECT _change_type, count(*) AS n FROM stage_t.ws.pdc.changes
        |WHERE _commit_version = 2 GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed === Map("update_preimage" -> 50L, "update_postimage" -> 50L),
      s"position-delta UPDATE version did not pair: $feed")
    // exact images: each pre/post pair shares k, post = pre + 1
    val pairs = spark.sql(
      """SELECT k,
        |  max(CASE WHEN _change_type = 'update_preimage' THEN v END) AS pre,
        |  max(CASE WHEN _change_type = 'update_postimage' THEN v END) AS post
        |FROM stage_t.ws.pdc.changes WHERE _commit_version = 2
        |GROUP BY k""".stripMargin).collect()
    assert(pairs.length === 50)
    assert(pairs.forall(r => r.getLong(2) === r.getLong(1) + 1L),
      "paired images do not carry the exact old->new transition")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdc")
    // lineage twin: images pair by ROW IDENTITY — each _row_id appears as
    // exactly one pre and one post, even though the replacement row lives
    // in a different file than its ghost
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdcl")
    spark.sql(
      """CREATE TABLE stage_t.ws.pdcl (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.write.mode'='merge-on-read',
        |               'graft.row-lineage'='true')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.pdcl SELECT id, id * 10 FROM range(0, 200)")
    spark.sql("UPDATE stage_t.ws.pdcl SET v = v + 1 WHERE k % 4 = 1")
    val idPairs = spark.sql(
      """SELECT _row_id,
        |  sum(CASE WHEN _change_type = 'update_preimage' THEN 1 ELSE 0 END) AS pre,
        |  sum(CASE WHEN _change_type = 'update_postimage' THEN 1 ELSE 0 END) AS post,
        |  count(DISTINCT k) AS nk
        |FROM stage_t.ws.pdcl.changes WHERE _commit_version = 2
        |GROUP BY _row_id""".stripMargin).collect()
    assert(idPairs.length === 50)
    assert(idPairs.forall(r =>
      r.getLong(1) === 1L && r.getLong(2) === 1L && r.getLong(3) === 1L),
      "lineage CDF of a position-delta version did not pair one pre + one post per id")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pdcl")
  }

  test("row lineage allocation leases: a foreign claim excludes its range cross-process; commits claim their own; vacuum keeps crashed claims") {
    import graft.sources.catalog.{RowLineage, StagingMaintenance}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rll")
    spark.sql(
      """CREATE TABLE stage_t.ws.rll TBLPROPERTIES ('graft.row-lineage'='true')
        |AS SELECT id AS k FROM range(0, 50)""".stripMargin)
    def ids(): Map[Long, Long] =
      StagingMaintenance.readLineage(spark, "stage_t", "ws", "rll")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tblDir = new org.apache.hadoop.fs.Path(s"$stageRoot/ws/rll")
    val fs = tblDir.getFileSystem(spark.sessionState.newHadoopConf())
    val leaseDir = new org.apache.hadoop.fs.Path(tblDir, "_graft_rowlease")
    def leases(): Map[Long, Long] =
      (try fs.listStatus(leaseDir).toIndexedSeq
       catch { case _: java.io.FileNotFoundException => IndexedSeq.empty })
        .filter(_.getPath.getName.startsWith("lease-"))
        .map { st =>
          val start = st.getPath.getName.stripPrefix("lease-").toLong
          val in = fs.open(st.getPath)
          // content is `<end>` (r13) or `<end>,<expiresAtMs>` (r14)
          val end =
            try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
              java.nio.charset.StandardCharsets.UTF_8).trim.split(',')(0).toLong
            finally in.close()
          start -> end
        }.toMap
    // the CTAS allocation itself claimed a lease covering its range
    val v1 = ids()
    assert(leases().nonEmpty, "lineage commit claimed no allocation lease")
    assert(leases().forall { case (s, e) => s < e }, leases().toString)
    // FOREIGN CLAIM (another driver process mid-commit): its range must be
    // excluded even though no log carries it — this is exactly the window
    // where pre-lease allocation handed out duplicates. Claim the precise
    // start the next allocation would pick, so the create-exclusive
    // collision path is exercised too (same name ⇒ one winner).
    val curNext = leases().values.max // current watermark = last claim's end
    val foreignEnd = curNext + 5L * RowLineage.Stride
    val out = fs.create(
      new org.apache.hadoop.fs.Path(leaseDir, s"lease-$curNext"), false)
    try out.write(foreignEnd.toString.getBytes("UTF-8")) finally out.close()
    spark.sql("INSERT INTO stage_t.ws.rll SELECT id FROM range(100, 120)")
    val v2 = ids()
    val freshIds = (v2 -- v1.keys).values
    assert(freshIds.forall(_ >= foreignEnd),
      s"allocation entered a foreign lease's range: min fresh = ${freshIds.min}, " +
        s"foreign end = $foreignEnd")
    assert(v2.filter { case (k, _) => v1.contains(k) } === v1,
      "existing rows re-identified")
    // vacuum drops every lease the log overtook (the foreign claim above
    // included — allocation jumped past it, so the manifests carry a
    // higher floor) and KEEPS a crashed claim still ahead of the
    // watermark: reclaiming that one would re-open the race it closed.
    val crashedStart = leases().values.max + 10L * RowLineage.Stride
    val out2 = fs.create(
      new org.apache.hadoop.fs.Path(leaseDir, s"lease-$crashedStart"), false)
    try out2.write((crashedStart + RowLineage.Stride).toString.getBytes("UTF-8"))
    finally out2.close()
    spark.conf.set("spark.graft.vacuum.temp-ttl-ms", "0")
    try {
      Thread.sleep(5)
      spark.sql("CALL stage_t.vacuum('ws', 'rll', 1)")
      val left = leases()
      assert(left.keySet === Set(crashedStart),
        s"vacuum lease hygiene wrong: kept ${left.keySet}, expected only the " +
          s"crashed claim $crashedStart")
      // and the crashed claim still excludes its range from new allocations
      spark.sql("INSERT INTO stage_t.ws.rll VALUES (7777)")
      val v3 = ids()
      assert(v3(7777L) >= crashedStart + RowLineage.Stride,
        s"allocation entered a crashed claim's range: ${v3(7777L)}")
      assert(v3.values.toSet.size === v3.size, "id collision")
    } finally spark.conf.unset("spark.graft.vacuum.temp-ttl-ms")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rll")
  }

  test("row lineage leases r14: torn lease superseded (no livelock); TTL-expired claims vacuumed, unexpired kept; tmp spool orphans swept") {
    import graft.sources.catalog.RowLineage
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlt")
    spark.sql(
      """CREATE TABLE stage_t.ws.rlt TBLPROPERTIES ('graft.row-lineage'='true')
        |AS SELECT id AS k FROM range(0, 30)""".stripMargin)
    val tblDir = new org.apache.hadoop.fs.Path(s"$stageRoot/ws/rlt")
    val fs = tblDir.getFileSystem(spark.sessionState.newHadoopConf())
    val leaseDir = new org.apache.hadoop.fs.Path(tblDir, "_graft_rowlease")
    def leaseNames(): Set[String] =
      (try fs.listStatus(leaseDir).toIndexedSeq
       catch { case _: java.io.FileNotFoundException => IndexedSeq.empty })
        .map(_.getPath.getName).toSet
    def leaseContent(n: String): String = {
      val in = fs.open(new org.apache.hadoop.fs.Path(leaseDir, n))
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    def ids(): Map[Long, Long] =
      graft.sources.catalog.StagingMaintenance
        .readLineage(spark, "stage_t", "ws", "rlt")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r14 claims carry `<end>,<expiresAtMs>` and are rename-landed (atomic
    // content — an empty lease can no longer be minted by a crash)
    val first = leaseNames().filter(_.startsWith("lease-"))
    assert(first.nonEmpty && first.forall(n => leaseContent(n).contains(",")),
      s"r14 lease content must carry a TTL: $first")
    // TORN legacy lease (pre-r14 crash between create and write) at the
    // EXACT start the next allocation picks: before the fix, allocation
    // spun forever (floor unchanged, name collision, repeat). After it,
    // the torn claim is superseded once past the grace window.
    val curNext = first.map(n => leaseContent(n).split(',')(0).toLong).max
    val tornP = new org.apache.hadoop.fs.Path(leaseDir, s"lease-$curNext")
    fs.create(tornP, false).close() // empty content = torn
    fs.setTimes(tornP, System.currentTimeMillis() - 120000L, -1) // past grace
    val v1 = ids()
    spark.sql("INSERT INTO stage_t.ws.rlt SELECT id FROM range(100, 110)")
    val v2 = ids()
    val fresh = (v2 -- v1.keys).values
    assert(fresh.size === 10 && v2.values.toSet.size === v2.size,
      s"torn-lease supersede broke allocation: $fresh")
    // the superseded slot was re-claimed with parsable content
    val reclaimed = leaseContent(s"lease-$curNext").trim
    assert(reclaimed.nonEmpty && reclaimed.split(',')(0).forall(_.isDigit),
      s"superseded slot not re-claimed atomically: '$reclaimed'")
    // TTL reclamation: an EXPIRED crashed claim above the watermark goes;
    // an UNEXPIRED one stays (its owner may still be mid-commit)
    val maxEnd = leaseNames().filter(_.startsWith("lease-"))
      .map(n => leaseContent(n).split(',')(0).toLong).max
    val expStart = maxEnd + 10L * RowLineage.Stride
    val liveStart = maxEnd + 20L * RowLineage.Stride
    def claim(start: Long, expiresAt: Long): Unit = {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(leaseDir, s"lease-$start"), false)
      try out.write(s"${start + RowLineage.Stride},$expiresAt".getBytes("UTF-8"))
      finally out.close()
    }
    claim(expStart, System.currentTimeMillis() - 1000L)
    claim(liveStart, System.currentTimeMillis() + 3600000L)
    // a crashed claim's spool file (kill between create and rename)
    val orphan = new org.apache.hadoop.fs.Path(leaseDir, ".tmp-lease-9-9")
    fs.create(orphan, false).close()
    fs.setTimes(orphan, System.currentTimeMillis() - 120000L, -1)
    spark.conf.set("spark.graft.vacuum.temp-ttl-ms", "60000")
    try {
      spark.sql("CALL stage_t.vacuum('ws', 'rlt', 1)")
      val left = leaseNames()
      assert(!left.contains(s"lease-$expStart"),
        s"TTL-expired crashed claim not reclaimed: $left")
      assert(left.contains(s"lease-$liveStart"),
        s"unexpired claim wrongly reclaimed: $left")
      assert(!left.contains(".tmp-lease-9-9"), s"tmp spool orphan kept: $left")
      // the kept claim still excludes its range
      spark.sql("INSERT INTO stage_t.ws.rlt VALUES (8888)")
      assert(ids()(8888L) >= liveStart + RowLineage.Stride,
        "allocation entered an unexpired crashed claim's range")
    } finally spark.conf.unset("spark.graft.vacuum.temp-ttl-ms")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlt")
  }

  test("row lineage: unique stable _row_id across appends, OPTIMIZE, COW DELETE; time travel pins identities") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rl")
    spark.sql(
      """CREATE TABLE stage_t.ws.rl TBLPROPERTIES ('graft.row-lineage'='true')
        |AS SELECT id AS k FROM range(0, 100)""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.rl SELECT id FROM range(100, 150)")
    def ids(asOf: Option[Long] = None): Map[Long, Long] =
      StagingMaintenance.readLineage(spark, "stage_t", "ws", "rl", asOf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v2 = ids()
    assert(v2.size === 150, "a row lost its id")
    assert(v2.values.toSet.size === 150, "row ids are not unique")
    // OPTIMIZE compacts; every row keeps its id (materialized physically)
    StagingMaintenance.optimize(spark, "stage_t", "ws", "rl", targetFiles = 2)
    assert(ids() === v2, "OPTIMIZE re-identified rows")
    // plain reads are untouched by the physical column
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.rl").collect()(0).getLong(0) === 150L)
    assert(!spark.table("stage_t.ws.rl").columns.contains("_graft_row_id"))
    // COW DELETE (the metadata path — V1-translatable predicate): survivors
    // keep their ids, both in carried files and in the rewritten remainder
    spark.sql("DELETE FROM stage_t.ws.rl WHERE k >= 30 AND k < 45")
    val afterDel = ids()
    assert(afterDel.size === 135)
    assert(afterDel === v2.filter { case (k, _) => k < 30 || k >= 45 },
      "DELETE re-identified surviving rows")
    // fresh inserts allocate NEW ids (never reuse deleted ones)
    spark.sql("INSERT INTO stage_t.ws.rl VALUES (9999)")
    val afterIns = ids()
    assert(afterIns(9999L) > v2.values.max, "fresh id reused an old range")
    // time travel: the pre-delete version still shows the deleted rows'
    // pinned identities
    val pinned = ids(asOf = Some(3L)) // v3 = the OPTIMIZE version
    assert(pinned === v2, "pinned read lost pre-delete identities")
    // restore rolls ids back with the data
    spark.sql("CALL stage_t.restore('ws', 'rl', 3)")
    assert(ids() === v2, "restore re-identified rows")
    // GROUP-BASED rewrites (UPDATE / MERGE / non-translatable DELETE)
    // PRESERVE identity: the operation requires the `_row_id` metadata
    // column, Spark's rewrite carries it through the update/copy legs, and
    // the metadata-projected write lands it in the physical column
    StagingMaintenance.optimize(spark, "stage_t", "ws", "rl",
      targetFiles = 2, clusterBy = Some("k"))
    assert(ids() === v2, "clustered OPTIMIZE re-identified rows")
    spark.sql("CALL stage_t.analyze('ws', 'rl', 'k')")
    spark.sql("UPDATE stage_t.ws.rl SET k = k + 100000 WHERE k = 149")
    val afterUpd = ids()
    // the updated ROW keeps its id under its new key — row tracking
    assert(afterUpd.get(100149L).contains(v2(149L)),
      s"UPDATE re-identified the updated row: ${afterUpd.get(100149L)} vs ${v2(149L)}")
    // every other row keeps its id too (rewritten file AND carried file)
    assert((afterUpd - 100149L) === (v2 - 149L),
      "a group-based UPDATE re-identified untouched rows")
    // `SELECT _row_id` works in plain SQL — the DSv2 metadata-column face
    val sqlIds = spark.sql("SELECT k, _row_id FROM stage_t.ws.rl")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sqlIds === afterUpd, "SQL _row_id disagrees with readLineage")
    // MERGE: matched updates keep ids, NOT-MATCHED inserts get fresh ones
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlsrc")
    spark.sql(
      """CREATE TABLE stage_t.ws.rlsrc AS
        |SELECT id AS k FROM range(100140, 100160)""".stripMargin)
    spark.sql(
      """MERGE INTO stage_t.ws.rl t USING stage_t.ws.rlsrc s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET k = t.k + 1000000
        |WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)""".stripMargin)
    val afterMerge = ids()
    assert(afterMerge.get(1100149L).contains(v2(149L)),
      "MERGE UPDATE re-identified the matched row")
    val inserted = afterMerge.keySet.filter(k => k >= 100140L && k < 100160L && k != 100149L)
    assert(inserted.size === 19, s"MERGE inserts missing: $inserted")
    assert(afterMerge.values.toSet.size === afterMerge.size,
      "MERGE-inserted ids collide with existing ids")
    assert(inserted.forall(k => afterMerge(k) > v2.values.max),
      "a MERGE-inserted row reused an old id range")
    // a NON-translatable DELETE (the group-based fallback) preserves too
    spark.sql("DELETE FROM stage_t.ws.rl WHERE k % 10 = 7")
    val afterGdel = ids()
    assert(afterGdel === afterMerge.filter { case (k, _) => k % 10 != 7 },
      "a group-based DELETE re-identified surviving rows")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlsrc")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rl")
  }

  test("row lineage × branches: fork-safe allocation, publish carries ids, rebase re-anchors bases") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlb")
    spark.sql(
      """CREATE TABLE stage_t.ws.rlb TBLPROPERTIES ('graft.row-lineage'='true')
        |AS SELECT id AS k FROM range(0, 100)""".stripMargin)
    def ids(): Map[Long, Long] =
      StagingMaintenance.readLineage(spark, "stage_t", "ws", "rlb")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v1 = ids()
    // fork + ingest on BOTH faces: the branch allocates above main's
    // watermark and vice versa — ids can never collide at publish
    spark.sql("CALL stage_t.branch('ws', 'rlb', 'cand')")
    spark.sql("INSERT INTO stage_t.ws.rlb.branch_cand SELECT id FROM range(100, 150)")
    // the branch face resolves `_row_id` from ITS log's vector
    val branchIds = spark.sql("SELECT k, _row_id FROM stage_t.ws.rlb.branch_cand")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(branchIds.size === 150 && branchIds.values.toSet.size === 150,
      "branch ingest ids collide with fork ids")
    assert(v1.forall { case (k, id) => branchIds(k) == id },
      "branch face re-identified fork rows")
    // publish: fast-forward carries the branch's id vector verbatim
    spark.sql("CALL stage_t.publish('ws', 'rlb', 'cand')")
    val afterPub = ids()
    assert(afterPub === branchIds, "publish re-identified branch rows")
    // STRANDED branch: main advances after the fork; allocations on the
    // two sides must still be disjoint, and REBASE must re-anchor bases
    spark.sql("CALL stage_t.branch('ws', 'rlb', 'fix')")
    spark.sql("INSERT INTO stage_t.ws.rlb.branch_fix SELECT id FROM range(200, 230)")
    spark.sql("INSERT INTO stage_t.ws.rlb SELECT id FROM range(300, 320)") // main moves
    val mainIds = ids()
    val fixIdsPre = spark.sql("SELECT k, _row_id FROM stage_t.ws.rlb.branch_fix")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val conflict = intercept[Exception] {
      spark.sql("CALL stage_t.publish('ws', 'rlb', 'fix')").collect()
    }
    assert(exMessages(conflict).exists(_.contains("publish conflict")), conflict.getMessage)
    spark.sql("CALL stage_t.rebase('ws', 'rlb', 'fix')")
    spark.sql("CALL stage_t.publish('ws', 'rlb', 'fix')")
    val afterRebase = ids()
    assert(afterRebase.size === 200) // 150 + 30 branch + 20 main
    assert(afterRebase.values.toSet.size === 200,
      "rebase produced colliding ids across the fork")
    assert(mainIds.forall { case (k, id) => afterRebase(k) == id },
      "rebase re-identified main rows")
    // branch rows keep the ids the branch allocated (bases re-anchored,
    // not re-assigned): bit-identical to the pre-rebase branch face
    assert((200L until 230L).forall(k => afterRebase.get(k) == fixIdsPre.get(k)),
      "rebase re-identified branch rows")
    val sqlIds = spark.sql("SELECT k, _row_id FROM stage_t.ws.rlb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sqlIds === afterRebase, "SQL _row_id disagrees after rebase")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlb")
  }

  test("row lineage × keyed merge-on-read: delta UPDATE/MERGE preserve identity, DVs filter before resolve, OPTIMIZE folds") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlm")
    spark.sql(
      """CREATE TABLE stage_t.ws.rlm (k BIGINT NOT NULL, v BIGINT) TBLPROPERTIES (
        |'graft.row-lineage'='true', 'graft.write.mode'='merge-on-read',
        |'graft.merge-keys'='k')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.rlm SELECT /*+ REPARTITION_BY_RANGE(3, id) */ " +
      "id, id * 10 FROM range(0, 200)")
    def ids(asOf: Option[Long] = None): Map[Long, (Long, Long)] =
      StagingMaintenance.readLineage(spark, "stage_t", "ws", "rlm", asOf)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val v1 = ids() // k -> (v, _row_id)
    assert(v1.size === 200 && v1.values.map(_._2).toSet.size === 200)
    val before = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "rlm").toSet
    // DELTA UPDATE (merge-on-read): DV-delete + fresh insert — the
    // replacement row must KEEP its id (carried as a metadata projection
    // through the WriteDelta writer), and nothing is rewritten
    spark.sql("UPDATE stage_t.ws.rlm SET v = v + 1000000 WHERE k % 10 = 3")
    assert(before.subsetOf(
      StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "rlm").toSet),
      "MOR UPDATE rewrote files")
    assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "rlm").nonEmpty)
    val afterUpd = ids()
    assert(afterUpd.size === 200)
    assert(afterUpd.forall { case (k, (v, id)) =>
      id == v1(k)._2 && v == (if (k % 10 == 3) v1(k)._1 + 1000000 else v1(k)._1) },
      "MOR UPDATE re-identified rows or lost values")
    // `SELECT _row_id` (plain SQL, combined DV+lineage reader): ghost rows
    // suppressed, ids identical to the readLineage face
    val sqlIds = spark.sql("SELECT k, _row_id FROM stage_t.ws.rlm")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sqlIds === afterUpd.map { case (k, (_, id)) => k -> id },
      "SQL _row_id disagrees with readLineage under active DVs")
    // MERGE: matched keys keep ids under new values; inserts get fresh
    // unique ids ABOVE the old watermark
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlmsrc")
    spark.sql(
      """CREATE TABLE stage_t.ws.rlmsrc AS
        |SELECT id AS k, id * 7 AS v FROM range(190, 220)""".stripMargin)
    spark.sql(
      """MERGE INTO stage_t.ws.rlm t USING stage_t.ws.rlmsrc s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val afterMerge = ids()
    assert(afterMerge.size === 220)
    assert((190L until 200L).forall(k => afterMerge(k)._2 == v1(k)._2),
      "MERGE UPDATE re-identified matched rows")
    assert((0L until 190L).forall(k => afterMerge(k) == afterUpd(k)),
      "MERGE disturbed untouched rows")
    val watermark = v1.values.map(_._2).max
    assert((200L until 220L).forall(k => afterMerge(k)._2 > watermark),
      "a MERGE insert reused an old id range")
    assert(afterMerge.values.map(_._2).toSet.size === 220, "id collision")
    // repeated delta on already-updated keys: ghosts never re-match
    spark.sql("UPDATE stage_t.ws.rlm SET v = v + 1 WHERE k = 3")
    assert(ids()(3L)._2 === v1(3L)._2, "second UPDATE re-identified")
    // delete-only delta: one DV, survivors keep ids
    spark.sql("DELETE FROM stage_t.ws.rlm WHERE k >= 210")
    val afterDel = ids()
    assert(afterDel.size === 210)
    assert(afterDel.forall { case (k, (_, id)) => id == afterMerge(k)._2 },
      "MOR DELETE re-identified survivors")
    // time travel pins identities AND visibility
    assert(ids(asOf = Some(2L)).map { case (k, (_, id)) => k -> id }
      === afterUpd.map { case (k, (_, id)) => k -> id },
      "pinned read lost the post-UPDATE identity vector")
    // OPTIMIZE folds DVs and materializes ids in one pass
    StagingMaintenance.optimize(spark, "stage_t", "ws", "rlm", targetFiles = 2)
    assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "rlm").isEmpty)
    assert(ids() === afterDel, "OPTIMIZE re-identified rows while folding DVs")
    // batch change-feed face (r12): the DV-only UPDATE version serves
    // identity-paired images in plain SQL, version-pruned
    val cdf = spark.sql(
      "SELECT _change_type, count(*) AS n FROM stage_t.ws.rlm.changes " +
        "WHERE _commit_version = 2 GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdf === Map("update_preimage" -> 20L, "update_postimage" -> 20L),
      s"MOR UPDATE batch feed did not pair by identity: $cdf")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlmsrc")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlm")
  }

  test("row lineage × keyless merge-on-read: position DVs filter before resolve, group UPDATE preserves, bounded DELETE interplays") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlp")
    spark.sql(
      """CREATE TABLE stage_t.ws.rlp (k BIGINT, v STRING) TBLPROPERTIES (
        |'graft.row-lineage'='true', 'graft.write.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO stage_t.ws.rlp SELECT /*+ REPARTITION_BY_RANGE(4, id) */ " +
      "id AS k, CAST(id AS STRING) AS v FROM range(0, 400)")
    StagingMaintenance.analyze(spark, "stage_t", "ws", "rlp", Seq("k"))
    def ids(): Map[Long, Long] =
      StagingMaintenance.readLineage(spark, "stage_t", "ws", "rlp")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val v1 = ids()
    assert(v1.size === 400 && v1.values.toSet.size === 400)
    val before = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "rlp").toSet
    // position-DV DELETE: zero rewrites, survivors keep ids, deleted rows
    // vanish from both the SQL `_row_id` face and the Scala face
    spark.sql("DELETE FROM stage_t.ws.rlp WHERE k >= 100 AND k < 150")
    assert(StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "rlp").toSet
      === before, "position delete rewrote files")
    val afterDel = ids()
    assert(afterDel.size === 350)
    assert(afterDel.forall { case (k, id) => id == v1(k) },
      "position delete re-identified survivors")
    val sqlIds = spark.sql("SELECT k, _row_id FROM stage_t.ws.rlp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sqlIds === afterDel, "SQL _row_id disagrees under position DVs")
    // UPDATE on a file carrying pos DVs (position-DELTA since r13): reads
    // under the DVs (no resurrection), replacement rows preserve their ids
    // through the metadata projection, nothing is rewritten
    val fPreUpd = StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "rlp").toSet
    spark.sql("UPDATE stage_t.ws.rlp SET v = 'w' WHERE k >= 150 AND k < 160")
    assert(fPreUpd.subsetOf(
      StagingMaintenance.currentFileNames(spark, "stage_t", "ws", "rlp").toSet),
      "position-delta UPDATE rewrote files")
    val afterUpd = ids()
    assert(afterUpd.size === 350, "UPDATE resurrected or dropped rows")
    assert(afterUpd === afterDel, "position-delta UPDATE re-identified rows")
    // DISTRIBUTED run sidecars under lineage (r13): an over-cap DELETE's
    // ordinals never reach the driver, and the combined DV+lineage reader
    // resolves ids THROUGH the run membership — both faces agree
    spark.conf.set("spark.graft.pos-delete.max-matched-rows", "20")
    val afterBig =
      try {
        spark.sql("DELETE FROM stage_t.ws.rlp WHERE k >= 200 AND k < 300")
        assert(graft.sources.catalog.ZoneMapScan.lastPosDeleteMode
          === Some("dv-distributed"))
        val a = ids()
        assert(a.size === 250)
        assert(a.forall { case (k, id) => id == v1(k) },
          "distributed-run delete re-identified survivors")
        val sqlIds2 = spark.sql("SELECT k, _row_id FROM stage_t.ws.rlp")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(sqlIds2 === a, "SQL _row_id disagrees under distributed run DVs")
        a
      } finally spark.conf.unset("spark.graft.pos-delete.max-matched-rows")
    // OPTIMIZE folds pos DVs (inline AND runs) + materializes in one pass
    StagingMaintenance.optimize(spark, "stage_t", "ws", "rlp", targetFiles = 2)
    assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "rlp").isEmpty)
    assert(ids() === afterBig, "OPTIMIZE re-identified while folding pos DVs")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rlp")
  }

  test("rebase: replays a stranded branch's deltas onto the advanced main; conflicts on overlapping rewrites") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rb")
    spark.sql("CREATE TABLE stage_t.ws.rb AS SELECT id AS k FROM range(0, 100)") // v1
    spark.sql("CALL stage_t.branch('ws', 'rb', 'r')")
    spark.sql("INSERT INTO stage_t.ws.rb.branch_r SELECT id FROM range(100, 150)")
    // a branch REWRITE delta (the hard replay case): DML on the branch face
    spark.sql("DELETE FROM stage_t.ws.rb.branch_r WHERE k = 120")
    // main advances past the fork → the branch is stranded
    spark.sql("INSERT INTO stage_t.ws.rb SELECT id FROM range(1000, 1010)") // v2
    val conflict = intercept[Exception] {
      spark.sql("CALL stage_t.publish('ws', 'rb', 'r')")
    }
    assert(exMessages(conflict).exists(_.contains("publish conflict")), conflict.getMessage)
    // rebase re-anchors at main's head; the branch face now reads BOTH its
    // own deltas and main's post-fork slice
    val fork = spark.sql("CALL stage_t.rebase('ws', 'rb', 'r')").collect()(0).getLong(1)
    assert(fork === 2L, s"rebase re-anchored at $fork")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.rb.branch_r")
      .collect()(0).getLong(0) === 159L, "rebased branch lost a delta or main's slice")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.rb.branch_r WHERE k = 120")
      .collect()(0).getLong(0) === 0L, "rebased branch lost the rewrite delta")
    // main still isolated until publish; publish now fast-forwards
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.rb").collect()(0).getLong(0) === 110L)
    spark.sql("CALL stage_t.publish('ws', 'rb', 'r')")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.rb").collect()(0).getLong(0) === 159L)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.rb WHERE k = 120")
      .collect()(0).getLong(0) === 0L)
    // an EMPTY stranded branch just re-anchors (no manifests to replay)
    spark.sql("CALL stage_t.branch('ws', 'rb', 'empty')")
    spark.sql("INSERT INTO stage_t.ws.rb VALUES (5000)")
    val fork2 = spark.sql("CALL stage_t.rebase('ws', 'rb', 'empty')").collect()(0).getLong(1)
    val head2 = StagingMaintenance.branches(spark, "stage_t", "ws", "rb")("empty")._1
    assert(fork2 === head2, "empty rebase did not re-anchor the registry")
    spark.sql("CALL stage_t.publish('ws', 'rb', 'empty')") // no-op fast-forward
    // CONFLICT: branch and main rewrite the SAME file → rebase must refuse
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rbc")
    spark.sql("CREATE TABLE stage_t.ws.rbc AS SELECT id AS k FROM range(0, 10)") // one file
    spark.sql("CALL stage_t.branch('ws', 'rbc', 'x')")
    spark.sql("DELETE FROM stage_t.ws.rbc.branch_x WHERE k = 3") // branch rewrites the file
    spark.sql("DELETE FROM stage_t.ws.rbc WHERE k = 7")          // main rewrites it too
    val rc = intercept[Exception] { spark.sql("CALL stage_t.rebase('ws', 'rbc', 'x')") }
    assert(exMessages(rc).exists(_.contains("rebase conflict")), rc.getMessage)
    // the always-correct fallback stays available
    spark.sql("CALL stage_t.drop_branch('ws', 'rbc', 'x')")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.rbc").collect()(0).getLong(0) === 9L)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rb")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.rbc")
  }

  test("hardened metadata: branch-face exactly-once, torn-checkpoint fallback, legacy era schemas, interval validation") {
    import spark.implicits._
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    // 1. BRANCH-FACE EXACTLY-ONCE: a replayed micro-batch onto the WAP
    // ingest surface must be recognized as committed (its batchId lives in
    // the BRANCH log, not main's) — pre-fix it re-committed, and the
    // duplicate rows then published to main
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.beo")
    spark.sql("CREATE TABLE stage_t.ws.beo AS SELECT id AS k FROM range(0, 100)")
    spark.sql("CALL stage_t.branch('ws', 'beo', 'ing')")
    def bcount() = spark.sql("SELECT count(*) FROM stage_t.ws.beo.branch_ing")
      .collect()(0).getLong(0)
    Seq(500L, 501L).toDF("k").writeTo("stage_t.ws.beo.branch_ing")
      .option("graft.batch-id", "3").append()
    assert(bcount() === 102L)
    // crash-redelivery of the same batch onto the branch: clean no-op
    Seq(500L, 501L).toDF("k").writeTo("stage_t.ws.beo.branch_ing")
      .option("graft.batch-id", "3").append()
    assert(bcount() === 102L, "branch-face replay duplicated rows")
    spark.sql("CALL stage_t.publish('ws', 'beo', 'ing')")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.beo").collect()(0).getLong(0) === 102L,
      "a duplicated branch batch published to main")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.beo")
    // 2. TORN CHECKPOINT: a crash mid-write leaves a truncated ckpt file;
    // the integrity sentinel makes readers treat it as ABSENT (full-listing
    // fallback) instead of as an EMPTY exactly-once ledger
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.torn")
    spark.sql("CREATE TABLE stage_t.ws.torn (k BIGINT) " +
      "TBLPROPERTIES ('graft.checkpoint-interval'='2')")
    Seq(1L).toDF("k").writeTo("stage_t.ws.torn").option("graft.batch-id", "5").append()
    spark.sql("INSERT INTO stage_t.ws.torn VALUES (2)") // v2 → checkpoint
    val vd = new java.io.File(stageRoot, "ws/torn/_graft_versions")
    val ckpt2 = new java.io.File(vd, "ckpt-v2.json")
    assert(ckpt2.exists(), "no checkpoint at v2")
    val whole = new String(java.nio.file.Files.readAllBytes(ckpt2.toPath), "UTF-8")
    assert(whole.endsWith("\"eof\":1}"), s"checkpoint lacks the integrity sentinel: $whole")
    java.nio.file.Files.write(ckpt2.toPath, // simulate the torn write
      whole.substring(0, whole.length / 2).getBytes("UTF-8"))
    // the local-FS checksum sidecar now mismatches — ALSO a fair "torn"
    // shape (readers must treat an unreadable checkpoint as absent); drop it
    // so the truncated TEXT itself is what the sentinel check sees
    new java.io.File(vd, ".ckpt-v2.json.crc").delete()
    def tcount() = spark.sql("SELECT count(*) FROM stage_t.ws.torn").collect()(0).getLong(0)
    assert(tcount() === 2L, "torn checkpoint broke head resolution")
    Seq(1L).toDF("k").writeTo("stage_t.ws.torn").option("graft.batch-id", "5").append()
    assert(tcount() === 2L, "torn checkpoint forgot the ledger — replay duplicated rows")
    // the next interval commit re-publishes a VALID checkpoint over the
    // torn leftover (temp + rename, never an in-place overwrite)
    spark.sql("INSERT INTO stage_t.ws.torn VALUES (3)")
    spark.sql("INSERT INTO stage_t.ws.torn VALUES (4)") // v4 → checkpoint
    val ckpt4 = new java.io.File(vd, "ckpt-v4.json")
    assert(ckpt4.exists() &&
      new String(java.nio.file.Files.readAllBytes(ckpt4.toPath), "UTF-8").endsWith("\"eof\":1}"))
    Seq(1L).toDF("k").writeTo("stage_t.ws.torn").option("graft.batch-id", "5").append()
    assert(tcount() === 4L, "recovered checkpoint lost the ledger")
    assert(vd.listFiles().forall(f => !f.getName.endsWith(".tmp")),
      "checkpoint temp files leaked")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.torn")
    // 3. LEGACY ERA LOCATION: era snapshots written before the eras/ subdir
    // (directly under _graft_versions) must still govern pinned reads
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.oldera")
    spark.sql("CREATE TABLE stage_t.ws.oldera AS SELECT id AS k FROM range(0, 10)")
    spark.sql("ALTER TABLE stage_t.ws.oldera ADD COLUMN v STRING")
    val evd = new java.io.File(stageRoot, "ws/oldera/_graft_versions")
    val eras = new java.io.File(evd, "eras").listFiles()
      .filter(_.getName.startsWith("schema_upto_"))
    assert(eras.length === 1, "expected one era snapshot")
    java.nio.file.Files.move(eras(0).toPath, // relocate to the legacy home
      new java.io.File(evd, eras(0).getName).toPath)
    val pinned = spark.sql("SELECT * FROM stage_t.ws.oldera VERSION AS OF 1")
    assert(pinned.schema.fieldNames.toSeq === Seq("k"),
      s"legacy era ignored: pinned read shows ${pinned.schema.fieldNames.mkString(",")}")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.oldera")
    // 4. the boundary interval value the message claims to reject IS rejected
    val zero = intercept[Exception] {
      spark.sql("CREATE TABLE stage_t.ws.badiv (k BIGINT) " +
        "TBLPROPERTIES ('graft.checkpoint-interval'='0')")
    }
    assert(exMessages(zero).exists(_.contains("must be positive")), zero.getMessage)
  }

  test("cross-table commit groups: readers resolve the published vector or none of it; a writer killed between member commits never exposes a torn pair") {
    import graft.sources.catalog.CommitGroups
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.gp") // postings analog
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.gd") // doclen analog
    spark.sql("CREATE TABLE stage_t.ws.gp (tok STRING, doc BIGINT)")
    spark.sql("CREATE TABLE stage_t.ws.gd (doc BIGINT, dl BIGINT)")
    spark.sql("CALL stage_t.group_create('ws', 'serve', 'gp,gd')")
    def n(t: String) =
      spark.sql(s"SELECT count(*) FROM stage_t.ws.$t").collect()(0).getLong(0)
    // phase 1 of the first slice: members commit one at a time — readers
    // stay on the bound-at-create EMPTY vector throughout
    spark.sql("INSERT INTO stage_t.ws.gp VALUES ('a', 1), ('b', 1)")
    assert(n("gp") === 0L && n("gd") === 0L,
      "reader saw a member commit before the group published")
    spark.sql("INSERT INTO stage_t.ws.gd VALUES (1, 2)")
    assert(n("gp") === 0L && n("gd") === 0L)
    // phase 2: ONE pointer flip makes both visible together
    spark.sql("CALL stage_t.group_publish('ws', 'serve')")
    assert(n("gp") === 2L && n("gd") === 1L, "publish did not flip both members")
    // WRITER KILLED between member commits: the second slice lands in gp,
    // the process dies before gd / publish — every reader keeps resolving
    // the previous consistent pair, never (new gp, old gd)
    spark.sql("INSERT INTO stage_t.ws.gp VALUES ('c', 2)")
    assert(n("gp") === 2L && n("gd") === 1L,
      "torn combination visible after simulated writer death")
    // the RETRY re-runs phase 1 for the missing member and publishes once
    spark.sql("INSERT INTO stage_t.ws.gd VALUES (2, 3)")
    spark.sql("CALL stage_t.group_publish('ws', 'serve')")
    assert(n("gp") === 3L && n("gd") === 2L)
    // a TORN manifest in the NEXT sequence slot (no integrity sentinel):
    // readers treat it as absent — the previous sequence keeps serving —
    // and a publisher targeting that slot sees an occupied destination,
    // i.e. a conflict, never a lost or silently merged vector
    val gdir = new java.io.File(stageRoot, "ws/_graft_groups/serve")
    val nextSeq = gdir.listFiles().map(_.getName)
      .filter(f => f.startsWith("g-") && f.endsWith(".json"))
      .map(f => f.substring(2, f.length - 5).toLong).max + 1
    val torn = new java.io.File(gdir, s"g-$nextSeq.json")
    java.nio.file.Files.writeString(torn.toPath,
      s"""{"seq":$nextSeq,"members":{"gp":0,""")
    assert(n("gp") === 3L && n("gd") === 2L, "torn group manifest was trusted")
    val lost = intercept[java.util.ConcurrentModificationException] {
      CommitGroups.publish(spark, "stage_t", "ws", "serve")
    }
    assert(lost.getMessage.contains("published concurrently"))
    assert(torn.delete())
    // vacuum exempts group-pinned versions: push gp's head past the pin,
    // vacuum to retain_last=1 — the pinned version survives and still reads
    spark.sql("INSERT INTO stage_t.ws.gp VALUES ('dead', 9)") // unpublished
    spark.sql("CALL stage_t.vacuum('ws', 'gp', 1)")
    assert(n("gp") === 3L, "vacuum reclaimed a group-pinned version")
    // explicit time travel bypasses the pin (an explicit version IS a pin)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.gp VERSION AS OF 3")
      .collect()(0).getLong(0) === 4L)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.gp")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.gd")
  }

  test("branch DML: MERGE/UPDATE/DELETE run on the branch face, main isolated until publish carries the rewrites") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.bdml")
    spark.sql("CREATE TABLE stage_t.ws.bdml AS " +
      "SELECT id AS k, CAST(id AS STRING) AS v FROM range(0, 100)")
    val mainSum = () => spark.sql("SELECT sum(k) FROM stage_t.ws.bdml")
      .collect()(0).getLong(0)
    val base = mainSum()
    spark.sql("CALL stage_t.branch('ws', 'bdml', 'fix')")
    // ingest a dirty candidate batch: fresh rows + stale re-deliveries of
    // existing keys (the duplicate-laden reality WAP audits catch)
    spark.sql("INSERT INTO stage_t.ws.bdml.branch_fix " +
      "SELECT id AS k, concat('dup_', id) AS v FROM range(90, 120)")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.bdml.branch_fix")
      .collect()(0).getLong(0) === 130L)
    // branch MERGE dedup: collapse each key to one row, latest value wins
    spark.sql(
      """MERGE INTO stage_t.ws.bdml.branch_fix t USING (
        |  SELECT k, max(v) AS v FROM stage_t.ws.bdml.branch_fix
        |  GROUP BY k HAVING count(*) > 1) s
        |ON t.k = s.k
        |WHEN MATCHED AND t.v <> s.v THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.bdml.branch_fix")
      .collect()(0).getLong(0) === 120L, "branch MERGE dedup failed")
    // branch UPDATE + DELETE polish the candidate further
    spark.sql("UPDATE stage_t.ws.bdml.branch_fix SET v = 'fixed' WHERE k = 115")
    spark.sql("DELETE FROM stage_t.ws.bdml.branch_fix WHERE k = 119")
    assert(spark.sql(
      "SELECT v FROM stage_t.ws.bdml.branch_fix WHERE k = 115").collect()(0)
      .getString(0) === "fixed")
    // main saw NOTHING through all four branch commits
    assert(mainSum() === base, "branch DML leaked into main")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.bdml").collect()(0).getLong(0) === 100L)
    // audit passes → publish carries the DML versions onto main verbatim
    val audit = spark.sql(
      """SELECT count(*) - count(DISTINCT k) AS dups
        |FROM stage_t.ws.bdml.branch_fix""".stripMargin).collect()(0).getLong(0)
    assert(audit === 0L, "audit should pass after branch dedup")
    spark.sql("CALL stage_t.publish('ws', 'bdml', 'fix')")
    val res = spark.sql(
      "SELECT count(*) AS n, sum(k) AS s FROM stage_t.ws.bdml").collect()(0)
    assert(res.getLong(0) === 119L, s"published rows: ${res.getLong(0)}")
    // expected: keys 0..118 (119 deleted), duplicates collapsed
    assert(res.getLong(1) === (0L until 119L).sum, s"published sum: ${res.getLong(1)}")
    // dedup kept exactly one row per key ('dup_' wins by max(v)): 90..118
    // carry the candidate value except the k=115 fix
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.bdml WHERE v LIKE 'dup_%'")
      .collect()(0).getLong(0) === 28L, "dedup survivors wrong after publish")
    assert(spark.sql("SELECT count(DISTINCT k) FROM stage_t.ws.bdml")
      .collect()(0).getLong(0) === 119L, "duplicate keys published")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.bdml")
  }

  test("manifest-log checkpointing: bounded resolution over a 200-version log; ledger and pointer survive VACUUM") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.longlog")
    spark.sql("CREATE TABLE stage_t.ws.longlog (k BIGINT)")
    // a long-lived streamed table's shape: one commit per micro-batch, 200
    // of them — resolution cost must NOT grow with this number
    (0 until 200).foreach { i =>
      spark.sql(s"INSERT INTO stage_t.ws.longlog SELECT id FROM range(${i * 5L}, ${i * 5L + 5L})")
    }
    val vd = new java.io.File(stageRoot, "ws/longlog/_graft_versions")
    assert(new java.io.File(vd, "_last_ckpt").exists(), "no checkpoint pointer written")
    assert(new java.io.File(vd, "ckpt-v200.json").exists(), "no interval checkpoint at v200")
    def counters() = StagingMaintenance.resolutionCounters(spark, "stage_t", "ws", "longlog")
    // CURRENT read: pointer + forward probes — ZERO O(versions) listings
    val (lc0, pc0) = counters()
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.longlog")
      .collect()(0).getLong(0) === 1000L)
    val (lc1, pc1) = counters()
    assert(lc1 - lc0 === 0, s"current read listed the 200-version log ${lc1 - lc0}x")
    assert(pc1 - pc0 <= 40, s"current read probed ${pc1 - pc0} manifests")
    // VERSION AS OF: one direct probe of the named manifest
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.longlog VERSION AS OF 13")
      .collect()(0).getLong(0) === 65L)
    val (lc2, _) = counters()
    assert(lc2 - lc1 === 0, s"AS OF listed the version log ${lc2 - lc1}x")
    // TIMESTAMP AS OF: resolved through the checkpoint's (version, ts)
    // history + forward probes — still zero full listings
    val nowTs = new java.sql.Timestamp(System.currentTimeMillis() + 1000L)
    assert(spark.sql(
      s"SELECT count(*) FROM stage_t.ws.longlog TIMESTAMP AS OF '$nowTs'")
      .collect()(0).getLong(0) === 1000L)
    val (lcT, _) = counters()
    assert(lcT - lc2 === 0, s"TIMESTAMP AS OF listed the version log ${lcT - lc2}x")
    // STREAMING offsets: head discovery through the pointer per trigger,
    // per-version probes for the drained range — still zero listings
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckptres").toString
    val n = new java.util.concurrent.atomic.AtomicLong
    val q = spark.readStream.table("stage_t.ws.longlog")
      .writeStream.option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        n.addAndGet(b.count()); ()
      }.start()
    q.awaitTermination()
    assert(n.get() === 1000L, s"stream drained ${n.get()} rows")
    val (lc3, _) = counters()
    assert(lc3 - lc2 === 0, s"streaming offsets listed the version log ${lc3 - lc2}x")
    // VACUUM re-points the checkpoint at a retained head, reclaims stale
    // checkpoint files, and keeps resolution bounded and correct
    spark.sql("CALL stage_t.tag('ws', 'longlog', 'pin', 13)")
    spark.sql("CALL stage_t.vacuum('ws', 'longlog', 2)")
    assert(new java.io.File(vd, "ckpt-v200.json").exists(), "vacuum must re-checkpoint the head")
    assert(!new java.io.File(vd, "ckpt-v10.json").exists(), "stale checkpoints must be reclaimed")
    val (lv0, _) = counters()
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.longlog")
      .collect()(0).getLong(0) === 1000L)
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.longlog VERSION AS OF 'pin'")
      .collect()(0).getLong(0) === 65L)
    val (lv1, _) = counters()
    assert(lv1 - lv0 === 0, s"post-vacuum reads listed the version log ${lv1 - lv0}x")
    // EXACTLY-ONCE LEDGER SURVIVES VACUUM: batch 7's append commits, a later
    // commit buries it, vacuum reclaims its manifest — the checkpointed
    // ledger still remembers batch 7, so a crash-replay stays a no-op
    // (pre-checkpoint, reclaiming the manifest FORGOT the batch id)
    import spark.implicits._
    Seq(9999L).toDF("k").writeTo("stage_t.ws.longlog").option("graft.batch-id", "7").append()
    spark.sql("INSERT INTO stage_t.ws.longlog VALUES (10000)")
    spark.sql("CALL stage_t.vacuum('ws', 'longlog', 1)")
    Seq(9999L).toDF("k").writeTo("stage_t.ws.longlog").option("graft.batch-id", "7").append()
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.longlog")
      .collect()(0).getLong(0) === 1002L, "vacuum forgot a committed batch id — replay duplicated rows")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.longlog")
  }

  test("optimize scope='deltas' (r14): folds only delta-covered files, carries the rest by name, head delta-free, history intact") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.fdel")
    spark.sql("CREATE TABLE stage_t.ws.fdel (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read')")
    // two well-separated inserts: matched rows live only in the low band,
    // so the high band's files stay descriptor-free
    spark.sql("INSERT INTO stage_t.ws.fdel SELECT id, id FROM range(0, 100)")
    spark.sql("INSERT INTO stage_t.ws.fdel SELECT id, id FROM range(1000, 1100)")
    def files(): Set[String] = StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "fdel").toSet
    def dvs(): Seq[String] = StagingMaintenance
      .activeDvs(spark, "stage_t", "ws", "fdel")
    def sumV(): Long = spark.table("stage_t.ws.fdel")
      .agg(sum(col("v"))).collect()(0).getLong(0)
    val base = (0L until 100L).sum + (1000L until 1100L).sum
    val f0 = files()
    // untranslatable predicate forces the row-level (pos-delta) path; the
    // pushable k < 200 conjunct prunes the high band out of the locate scan
    spark.sql("UPDATE stage_t.ws.fdel SET v = v + 10000 WHERE k % 7 = 3 AND k < 200")
    assert(dvs().size === 1, s"expected one run descriptor: ${dvs()}")
    assert(f0.subsetOf(files()), "pos-delta UPDATE must not rewrite files")
    val hits = (0L until 100L).count(_ % 7 == 3)
    assert(sumV() === base + 10000L * hits)
    val preFold = spark.sql("SELECT max(version) FROM stage_t.ws.fdel.snapshots")
      .collect()(0).getLong(0)
    // high-band files are never targeted by a descriptor (matched rows
    // live only in the low band) — they must carry through the fold BY NAME
    val highBand = f0.filter(f =>
      spark.read.parquet(s"$stageRoot/ws/fdel/$f")
        .agg(min(col("k"))).collect()(0).getLong(0) >= 1000L)
    assert(highBand.nonEmpty, "expected at least one uncovered high-band file")
    val res = spark.sql(
      "CALL stage_t.optimize('ws', 'fdel', scope => 'deltas')").collect()(0)
    assert(res.getInt(0) > 0, s"expected rewritten files, got $res")
    assert(dvs().isEmpty, s"fold left active descriptors: ${dvs()}")
    assert(highBand.subsetOf(files()),
      s"fold rewrote uncovered files: ${highBand -- files()}")
    assert(files().exists(_.contains("fold-")), s"no twins in ${files()}")
    assert(sumV() === base + 10000L * hits, "fold changed table content")
    assert(spark.table("stage_t.ws.fdel").filter(col("k") === 3L)
      .collect()(0).getLong(1) === 10003L, "updated row lost through fold")
    // history: the pre-fold version still reads through its descriptor;
    // the version before the update still reads the original values
    assert(spark.sql(
      s"SELECT sum(v) FROM stage_t.ws.fdel VERSION AS OF $preFold")
      .collect()(0).getLong(0) === base + 10000L * hits)
    assert(spark.sql(
      s"SELECT sum(v) FROM stage_t.ws.fdel VERSION AS OF ${preFold - 1}")
      .collect()(0).getLong(0) === base)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.fdel")
  }

  test("broad-statement auto-fold (r14): a bulk pos-delta UPDATE folds itself; selective statements keep their descriptor; UNSET disables") {
    import graft.sources.catalog.{StagingMaintenance, ZoneMapScan}
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.afold")
    spark.sql("CREATE TABLE stage_t.ws.afold (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', " +
      "'graft.delta.auto-fold-fraction'='0.5')")
    spark.sql("INSERT INTO stage_t.ws.afold SELECT id, id FROM range(0, 100)")
    def dvs(): Seq[String] = StagingMaintenance
      .activeDvs(spark, "stage_t", "ws", "afold")
    def sumV(): Long = spark.table("stage_t.ws.afold")
      .agg(sum(col("v"))).collect()(0).getLong(0)
    val base = (0L until 100L).sum
    // BULK: matches every row (untranslatable so it takes the delta path)
    // -> covered every file, suppressed 100% of covered rows -> auto-fold
    spark.sql("UPDATE stage_t.ws.afold SET v = v + 1000 WHERE k % 2 >= 0")
    assert(ZoneMapScan.lastDeltaAutoFold.isDefined,
      "bulk UPDATE above the declared fraction did not auto-fold")
    assert(dvs().isEmpty, s"auto-fold left descriptors: ${dvs()}")
    assert(sumV() === base + 1000L * 100L)
    val vHead = spark.sql("SELECT max(version) FROM stage_t.ws.afold.snapshots")
      .collect()(0).getLong(0)
    assert(ZoneMapScan.lastDeltaAutoFold.contains(vHead),
      s"auto-fold version marker ${ZoneMapScan.lastDeltaAutoFold} != head $vHead")
    // SELECTIVE: 2 of 100 rows -> below the row fraction -> descriptor stays
    spark.sql("UPDATE stage_t.ws.afold SET v = v + 1000 WHERE k % 50 = 3")
    assert(ZoneMapScan.lastDeltaAutoFold.isEmpty,
      "selective UPDATE below the fraction must not auto-fold")
    assert(dvs().size === 1, s"expected the selective descriptor: ${dvs()}")
    assert(sumV() === base + 1000L * 100L + 1000L * 2L)
    // UNSET disables: the next bulk statement accretes a second descriptor
    spark.sql("ALTER TABLE stage_t.ws.afold " +
      "UNSET TBLPROPERTIES ('graft.delta.auto-fold-fraction')")
    spark.sql("UPDATE stage_t.ws.afold SET v = v + 1 WHERE k % 2 >= 0")
    assert(ZoneMapScan.lastDeltaAutoFold.isEmpty)
    assert(dvs().size === 2, s"expected accreted descriptors: ${dvs()}")
    assert(sumV() === base + 1000L * 102L + 100L)
    // declared fraction must validate
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE stage_t.ws.afold " +
        "SET TBLPROPERTIES ('graft.delta.auto-fold-fraction'='1.5')")
    }
    assert(e.getMessage.contains("auto-fold-fraction"), e.getMessage)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.afold")

    // keyed twin: a bulk keyed UPDATE (every key replaced) folds itself;
    // a selective one keeps its descriptor
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.akf")
    spark.sql("CREATE TABLE stage_t.ws.akf (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', " +
      "'graft.merge-keys'='k', 'graft.delta.auto-fold-fraction'='0.5')")
    spark.sql("INSERT INTO stage_t.ws.akf SELECT id, id FROM range(0, 100)")
    def dvsK(): Seq[String] = StagingMaintenance
      .activeDvs(spark, "stage_t", "ws", "akf")
    spark.sql("UPDATE stage_t.ws.akf SET v = v + 1000 WHERE k % 2 >= 0")
    assert(ZoneMapScan.lastDeltaAutoFold.isDefined,
      "bulk keyed UPDATE above the declared fraction did not auto-fold")
    assert(dvsK().isEmpty, s"keyed auto-fold left descriptors: ${dvsK()}")
    assert(spark.table("stage_t.ws.akf").agg(sum(col("v")))
      .collect()(0).getLong(0) === (0L until 100L).sum + 1000L * 100L)
    spark.sql("UPDATE stage_t.ws.akf SET v = v + 1 WHERE k % 50 = 3")
    assert(ZoneMapScan.lastDeltaAutoFold.isEmpty,
      "selective keyed UPDATE below the fraction must not auto-fold")
    assert(dvsK().size === 1, s"expected the selective descriptor: ${dvsK()}")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.akf")
  }

  test("optimize scope='deltas' on a keyed MOR table: inline key sets and key bins fold, uncovered files carry") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.kfold")
    // auto-analyze gives the locate scan zone maps: the keyed DV scopes to
    // the files the scan PLANS, so the pushable k < 200 conjunct keeps the
    // high band out of the covered set
    spark.sql("CREATE TABLE stage_t.ws.kfold (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', " +
      "'graft.merge-keys'='k', 'graft.auto-analyze'='k')")
    spark.sql("INSERT INTO stage_t.ws.kfold SELECT id, id FROM range(0, 100)")
    spark.sql("INSERT INTO stage_t.ws.kfold SELECT id, id FROM range(1000, 1100)")
    def files(): Set[String] = StagingMaintenance
      .currentFileNames(spark, "stage_t", "ws", "kfold").toSet
    def dvs(): Seq[String] = StagingMaintenance
      .activeDvs(spark, "stage_t", "ws", "kfold")
    val f0 = files()
    // equality delete matching only low-band keys (untranslatable so it
    // takes the key-DV path; the high band holds none of the matched keys)
    spark.sql("DELETE FROM stage_t.ws.kfold WHERE k % 10 = 3 AND k < 200")
    assert(dvs().nonEmpty, "keyed MOR DELETE should record a key DV")
    assert(f0.subsetOf(files()), "keyed MOR DELETE must not rewrite files")
    val highBand = f0.filter(f =>
      spark.read.parquet(s"$stageRoot/ws/kfold/$f")
        .agg(min(col("k"))).collect()(0).getLong(0) >= 1000L)
    assert(highBand.nonEmpty)
    val res = spark.sql(
      "CALL stage_t.optimize('ws', 'kfold', scope => 'deltas')").collect()(0)
    assert(res.getInt(0) > 0, s"expected rewritten files, got $res")
    assert(dvs().isEmpty, s"fold left descriptors: ${dvs()}")
    assert(highBand.subsetOf(files()),
      s"fold rewrote uncovered files: ${highBand -- files()}")
    assert(spark.table("stage_t.ws.kfold").count() === 190L)
    assert(spark.table("stage_t.ws.kfold").filter(col("k") === 13L).count() === 0L)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.kfold")
  }

  test("purge under position deltas (r14): run + inline descriptors remap, suppressed rows stay suppressed, history stays exact") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pgdv")
    spark.sql("CREATE TABLE stage_t.ws.pgdv (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read')")
    spark.sql("INSERT INTO stage_t.ws.pgdv SELECT id, id FROM range(0, 100)")
    spark.sql("INSERT INTO stage_t.ws.pgdv SELECT id, id FROM range(1000, 1100)")
    // v3: pos-delta UPDATE (run descriptor over low-band files); the
    // replaced originals and their replacements all avoid the purge below
    spark.sql("UPDATE stage_t.ws.pgdv SET v = v + 1000 WHERE k % 10 = 7 AND k < 200")
    // v4: small keyless DELETE (inline position sidecar); its ghosts are
    // NOT purged — their descriptor ordinals must remap exactly or the
    // wrong rows go invisible at the head
    spark.sql("DELETE FROM stage_t.ws.pgdv WHERE k % 25 = 4 AND k < 200")
    def dvs(): Seq[String] = StagingMaintenance
      .activeDvs(spark, "stage_t", "ws", "pgdv")
    assert(dvs().size === 2, s"expected run + inline descriptors: ${dvs()}")
    val dvsBefore = dvs()
    val a = (0L until 100L)
    val bandB = (1000L until 1100L)
    def upd(k: Long): Long = if (k % 10 == 7) k + 1000 else k
    val delSet = Set(4L, 29L, 54L, 79L)
    val hit = (k: Long) => k % 5 == 3
    val r = spark.sql(
      "CALL stage_t.purge('ws', 'pgdv', 'k % 5 = 3 AND k < 200')").collect()(0)
    assert(r.getLong(2) === 20L, s"rows_purged: $r")
    assert(dvs() === dvsBefore,
      "in-place remap must keep descriptor names (manifests reference them)")
    def agg(face: String): (Long, Long) = {
      val row = spark.sql(
        s"SELECT count(*), coalesce(sum(v), 0) FROM stage_t.ws.pgdv $face").collect()(0)
      (row.getLong(0), row.getLong(1))
    }
    // head (v4): minus purged, minus deletes (ghost ordinals remapped),
    // update applied (replaced rows suppressed by the remapped run
    // descriptor, replacements visible)
    val headRows = a.filter(k => !hit(k) && !delSet(k))
    assert(agg("") === ((headRows.size + 100L, headRows.map(upd).sum + bandB.sum)),
      "head read wrong after purge under DVs")
    // v3 (post-update, pre-delete): the deleted ghosts are visible here
    val v3Rows = a.filterNot(hit)
    assert(agg("VERSION AS OF 3") ===
      ((v3Rows.size + 100L, v3Rows.map(upd).sum + bandB.sum)),
      "v3 time travel wrong: run-descriptor remap broke")
    // v2 (pre-update): original values, purged rows gone
    assert(agg("VERSION AS OF 2") ===
      ((v3Rows.size + 100L, v3Rows.sum + bandB.sum)),
      "v2 time travel wrong")
    // no resurrection, no over-purge, ghost stays a ghost
    assert(spark.table("stage_t.ws.pgdv").filter(col("k") === 28L).count() === 0L,
      "purged row resurrected")
    assert(spark.table("stage_t.ws.pgdv").filter(col("k") === 29L).count() === 0L,
      "deleted ghost resurrected — inline ordinal remap broke")
    assert(spark.sql(
      "SELECT v FROM stage_t.ws.pgdv VERSION AS OF 3 WHERE k = 29")
      .collect()(0).getLong(0) === 29L)
    assert(spark.table("stage_t.ws.pgdv").filter(col("k") === 6L)
      .collect()(0).getLong(1) === 6L)
    assert(spark.table("stage_t.ws.pgdv").filter(col("k") === 7L)
      .collect()(0).getLong(1) === 1007L, "surviving updated row lost")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pgdv")

    // keyed + distributed key bins: bins untouched, covered names substitute
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pgk")
    spark.sql("CREATE TABLE stage_t.ws.pgk (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', 'graft.merge-keys'='k')")
    spark.sql("INSERT INTO stage_t.ws.pgk SELECT id, id FROM range(0, 300)")
    val capKey = "spark.graft.key-delete.max-inline-keys"
    val saved = spark.conf.getOption(capKey)
    spark.conf.set(capKey, "16")
    try spark.sql("DELETE FROM stage_t.ws.pgk WHERE k % 3 = 1") // 100 keys -> bins
    finally saved.fold(spark.conf.unset(capKey))(spark.conf.set(capKey, _))
    assert(dvsOf("pgk").exists(_.startsWith("dvk-")), dvsOf("pgk").toString)
    spark.sql("CALL stage_t.purge('ws', 'pgk', 'k % 10 = 4')")
    assert(spark.table("stage_t.ws.pgk").count() ===
      (0L until 300L).count(k => k % 3 != 1 && k % 10 != 4).toLong,
      "keyrun purge broke the head read")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.pgk VERSION AS OF 1")
      .collect()(0).getLong(0) === 270L, "purged rows still at v1")
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pgk")

    // lineage × position deltas: identities survive the purge AND the
    // ordinal remap (twins materialize resolved ids; replacement files
    // carried their preserved ids from the delta write)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pgle")
    spark.sql("CREATE TABLE stage_t.ws.pgle (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', " +
      "'graft.row-lineage'='true')")
    spark.sql("INSERT INTO stage_t.ws.pgle SELECT id, id FROM range(0, 100)")
    spark.sql("UPDATE stage_t.ws.pgle SET v = v + 1000 WHERE k % 10 = 7")
    val ids0 = spark.sql("SELECT k, _row_id FROM stage_t.ws.pgle")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sql("CALL stage_t.purge('ws', 'pgle', 'k % 5 = 3')")
    val ids1 = spark.sql("SELECT k, _row_id FROM stage_t.ws.pgle")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids1 === ids0.filterNot { case (k, _) => k % 5 == 3 },
      "lineage x pos-delta purge re-identified rows")
    assert(spark.sql("SELECT count(*) FROM stage_t.ws.pgle VERSION AS OF 1")
      .collect()(0).getLong(0) === 80L)
    spark.sql("DROP TABLE IF EXISTS stage_t.ws.pgle")
  }

  private def dvsOf(t: String): Seq[String] =
    graft.sources.catalog.StagingMaintenance
      .activeDvs(spark, "stage_t", "ws", t)

  test("clone sync through rewrites (r14): keys => CDF MERGE apply follows source rewrites; divergence under other keys survives; appends stay zero-copy") {
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    Seq("cfs_c", "cfs_s").foreach { t =>
      try spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t")
      catch { case _: IllegalStateException => () }
    }
    spark.sql("CREATE TABLE stage_t.ws.cfs_s AS SELECT id AS k, id AS v FROM range(0, 100)")
    spark.sql("CALL stage_t.clone('ws', 'cfs_s', 'cfs_c')")
    // clone diverges under its own key space
    spark.sql("INSERT INTO stage_t.ws.cfs_c SELECT id + 1000, id FROM range(0, 10)")
    // source rewrites + appends since the watermark
    spark.sql("UPDATE stage_t.ws.cfs_s SET v = v + 500 WHERE k % 10 = 3")
    spark.sql("DELETE FROM stage_t.ws.cfs_s WHERE k % 10 = 7")
    spark.sql("INSERT INTO stage_t.ws.cfs_s SELECT id + 200, id FROM range(0, 5)")
    // keyless sync still refuses, now naming the keys escape
    val e = intercept[Exception] { spark.sql("CALL stage_t.sync('ws', 'cfs_c')") }
    assert(e.getMessage.contains("keys"), e.getMessage)
    // keyed CDF sync: net = 10 upserts (update) + 5 inserts (append) +
    // 10 deletes (no replacement keys)
    val r = spark.sql("CALL stage_t.sync('ws', 'cfs_c', keys => 'k')").collect()(0)
    assert(r.getLong(2) === 25L, r.toString)
    val srcRows = spark.table("stage_t.ws.cfs_s").collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    val divergent = (0L until 10L).map(i => (i + 1000L, i)).toSet
    val cloneRows = spark.table("stage_t.ws.cfs_c").collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(cloneRows === srcRows ++ divergent,
      s"CDF sync mismatch: missing=${(srcRows ++ divergent) -- cloneRows} " +
        s"extra=${cloneRows -- (srcRows ++ divergent)}")
    // idempotent: already-current sync is a no-op
    val r2 = spark.sql("CALL stage_t.sync('ws', 'cfs_c', keys => 'k')").collect()(0)
    assert(r2.getLong(2) === 0L && r2.getLong(3) === -1L, r2.toString)
    // appends AFTER a CDF sync borrow zero-copy again
    val fs = new org.apache.hadoop.fs.Path(stageRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def cloneParquet(): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$stageRoot/ws/cfs_c"))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName).toSet
    val pq0 = cloneParquet()
    spark.sql("INSERT INTO stage_t.ws.cfs_s SELECT id + 300, id FROM range(0, 5)")
    val r3 = spark.sql("CALL stage_t.sync('ws', 'cfs_c')").collect()(0)
    assert(r3.getLong(2) > 0L, r3.toString)
    assert(cloneParquet() === pq0, "post-CDF append sync copied data files")
    assert(spark.table("stage_t.ws.cfs_c").count() ===
      srcRows.size + divergent.size + 5L)
    // unknown key column refuses loudly
    spark.sql("UPDATE stage_t.ws.cfs_s SET v = v + 1 WHERE k % 50 = 9")
    val e2 = intercept[Exception] {
      spark.sql("CALL stage_t.sync('ws', 'cfs_c', keys => 'nope')") }
    assert(e2.getMessage.contains("unknown column"), e2.getMessage)
    Seq("cfs_c", "cfs_s").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t"))
  }

  test("clone of MOR/DV'd snapshots (r14): descriptors transplant with renamed references; divergence and vacuum stay independent; keyed sync follows") {
    import graft.sources.catalog.StagingMaintenance
    mountStage()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stage_t.ws")
    Seq("mcl_c", "mcl_s", "mpl_c", "mpl_s").foreach { t =>
      try spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t")
      catch { case _: IllegalStateException => () }
    }
    // keyed MOR source with an in-force inline key DV
    spark.sql("CREATE TABLE stage_t.ws.mcl_s (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read', 'graft.merge-keys'='k')")
    spark.sql("INSERT INTO stage_t.ws.mcl_s SELECT id, id FROM range(0, 100)")
    spark.sql("DELETE FROM stage_t.ws.mcl_s WHERE k % 10 = 7")
    spark.sql("CALL stage_t.clone('ws', 'mcl_s', 'mcl_c')")
    val fs = new org.apache.hadoop.fs.Path(stageRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(s"$stageRoot/ws/mcl_c"))
      .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet")),
      "MOR clone copied data files — must stay zero-copy")
    assert(StagingMaintenance.activeDvs(spark, "stage_t", "ws", "mcl_c").nonEmpty,
      "clone manifest carries no transplanted descriptors")
    assert(spark.table("stage_t.ws.mcl_c").count() === 90L,
      "suppressed rows resurrected through the clone")
    // clone-side divergence through its OWN delta machinery
    spark.sql("UPDATE stage_t.ws.mcl_c SET v = v + 1000 WHERE k % 10 = 3")
    def sumC(): Long = spark.table("stage_t.ws.mcl_c")
      .agg(sum(col("v"))).collect()(0).getLong(0)
    val base90 = (0L until 100L).filter(_ % 10 != 7).sum
    assert(sumC() === base90 + 1000L * 10L)
    // source diverges (another delta) — the clone is isolated…
    spark.sql("DELETE FROM stage_t.ws.mcl_s WHERE k % 10 = 1")
    assert(spark.table("stage_t.ws.mcl_c").count() === 90L)
    // …and the keyed CDF sync follows the DV-state change
    val r = spark.sql("CALL stage_t.sync('ws', 'mcl_c', keys => 'k')").collect()(0)
    assert(r.getLong(2) > 0L, r.toString)
    assert(spark.table("stage_t.ws.mcl_c").count() === 80L)
    assert(sumC() === (0L until 100L).filter(k => k % 10 != 7 && k % 10 != 1).sum
      + 1000L * 10L, "keyed sync lost the clone's divergent update")

    // keyless MOR: run descriptor (pos-delta UPDATE) + inline sidecar
    // (small DELETE) both transplant; the hard-vacuumed source cannot
    // brick the clone's suppression state
    spark.sql("CREATE TABLE stage_t.ws.mpl_s (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read')")
    spark.sql("INSERT INTO stage_t.ws.mpl_s SELECT id, id FROM range(0, 100)")
    spark.sql("UPDATE stage_t.ws.mpl_s SET v = v + 1000 WHERE k % 10 = 7")
    spark.sql("DELETE FROM stage_t.ws.mpl_s WHERE k % 25 = 4")
    spark.sql("CALL stage_t.clone('ws', 'mpl_s', 'mpl_c')")
    def stateP(): (Long, Long) = {
      val row = spark.sql(
        "SELECT count(*), sum(v) FROM stage_t.ws.mpl_c").collect()(0)
      (row.getLong(0), row.getLong(1))
    }
    val expRows = (0L until 100L).filterNot(_ % 25 == 4)
    val exp = (expRows.size.toLong,
      expRows.map(k => if (k % 10 == 7) k + 1000L else k).sum)
    assert(stateP() === exp, "pos descriptors mis-transplanted")
    spark.sql("INSERT OVERWRITE stage_t.ws.mpl_s SELECT id, id FROM range(0, 3)")
    spark.sql("CALL stage_t.vacuum('ws', 'mpl_s', 1)")
    assert(stateP() === exp,
      "source vacuum broke the clone's transplanted delete state")
    Seq("mcl_c", "mcl_s", "mpl_c", "mpl_s").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS stage_t.ws.$t"))
  }
}
