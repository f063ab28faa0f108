package graft.catalog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, TableCatalog}
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.{CountingFs, SparkSpec}
import graft.sources.catalog.{GraftStagingCatalog, StagingMaintenance, TableMeta}
import graft.sources.catalog.DeletionVectors.MorMode

/** The table record: one codec, one read per table load, one writer under
  * the catalog monitor, and the ALTER surface it serves unchanged.
  */
class TableMetaSpec extends SparkSpec {

  /** The thirteen per-declaration sidecars the record replaced. */
  private val Retired = Seq("_graft_schema.json", "_graft_partition.txt",
    "_graft_partition_prev.txt", "_graft_sortorder.txt", "_graft_autoanalyze.txt",
    "_graft_filesize.txt", "_graft_ckpt_interval.txt", "_graft_mor.txt",
    "_graft_updatemode.txt", "_graft_autofold.txt", "_graft_check.txt",
    "_graft_rowlineage", "_graft_group")

  /** Mounts a staging catalog `name` over a fresh root; returns the root. */
  private def mount(name: String): String = {
    val root = Files.createTempDirectory(s"graft_${name}_").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftStagingCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    root
  }

  private def catalog(name: String): TableCatalog =
    spark.sessionState.catalogManager.catalog(name).asInstanceOf[TableCatalog]

  private def props(cat: String, table: String): Map[String, String] =
    catalog(cat).loadTable(Identifier.of(Array("ws"), table)).properties().asScala.toMap

  private def recordOf(root: String, table: String): TableMeta = {
    val d = new Path(s"$root/ws/$table")
    TableMeta.read(d.getFileSystem(spark.sessionState.newHadoopConf()), d)
  }

  test("record codec: every declaration survives encode/decode; defaults encode to nothing") {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = true, new MetadataBuilder()
        .putString("CURRENT_DEFAULT", "42").putString("EXISTS_DEFAULT", "42").build())))
    val full = TableMeta(
      schema = Some(schema),
      partition = Seq("bucket(8,k)", "days(ts)"),
      retiredPartition = Seq("k"),
      sortOrder = Seq("k", "v"),
      sortUnproven = Some((3L, Set("a.parquet", "k=1/b \"q\".parquet"))),
      autoAnalyze = Seq("k"),
      targetFileBytes = 65536L,
      checkpointEvery = 3L,
      mor = MorMode.Key("k"),
      updateCopyOnWrite = true,
      autoFold = Some(0.5),
      check = Some("v >= 0 AND k <> 'x,\"y\"'"),
      rowLineage = true,
      group = Some("serve"),
      stats = true)
    assert(TableMeta.decode(full.json) === full)
    assert(TableMeta.decode(full.copy(mor = MorMode.Pos).json).mor === MorMode.Pos)
    assert(TableMeta().json === "{}")
    assert(TableMeta.decode("{}") === TableMeta())
  }

  test("a record that does not parse fails loudly; a missing one declares nothing") {
    val d = new Path(Files.createTempDirectory("graft_meta_bad_").toUri)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    assert(TableMeta.read(fs, d) === TableMeta())
    for (bad <- Seq("{\"sortOrder\":", "[]", "{\"sortOrder\":\"k\"}",
        "{\"writeMode\":\"sideways\"}", "{\"targetFileSize\":\"big\"}")) {
      val out = fs.create(new Path(d, TableMeta.FileName), true)
      try out.write(bad.getBytes("UTF-8")) finally out.close()
      intercept[IllegalStateException](TableMeta.read(fs, d))
    }
  }

  test("loadTable plus one scan build on a CoW table opens the record once and probes no retired sidecar") {
    mount("meta_cnt")
    val cfs = CountingFs.capture(spark) { catalog("meta_cnt"); () }
    spark.sql("CREATE NAMESPACE meta_cnt.ws")
    spark.sql("CREATE TABLE meta_cnt.ws.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO meta_cnt.ws.t SELECT id, id FROM range(0, 100)")
    cfs.reset()
    val t = catalog("meta_cnt").loadTable(Identifier.of(Array("ws"), "t"))
    t.asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    assert(cfs.opens(TableMeta.FileName) === 1, cfs.opens)
    assert(cfs.stats(TableMeta.FileName) === 0, cfs.stats)
    val touched = Retired.filter(n => cfs.stats(n) > 0 || cfs.opens(n) > 0)
    assert(touched.isEmpty, s"retired sidecars probed: $touched")
    assert(spark.table("meta_cnt.ws.t").count() === 100L)
  }

  test("stats flag: scans of a never-ANALYZEd table probe no stats sidecar; a flag without its sidecar reads as no stats") {
    val root = mount("meta_stats")
    val cfs = CountingFs.capture(spark) { catalog("meta_stats"); () }
    spark.sql("CREATE NAMESPACE meta_stats.ws")
    spark.sql("CREATE TABLE meta_stats.ws.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO meta_stats.ws.t SELECT id, id FROM range(0, 100)")
    spark.sql("INSERT INTO meta_stats.ws.t SELECT id, id FROM range(100, 200)")
    val sidecar = "_graft_stats.tsv"
    def scanOnce(version: Option[String]): Unit = {
      val id = Identifier.of(Array("ws"), "t")
      val t = version.fold(catalog("meta_stats").loadTable(id))(
        catalog("meta_stats").loadTable(id, _))
      t.asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      ()
    }
    cfs.reset()
    scanOnce(None)
    scanOnce(Some("1"))
    assert(!recordOf(root, "t").stats)
    assert(cfs.stats(sidecar) === 0 && cfs.opens(sidecar) === 0,
      s"stats sidecar probed on a never-ANALYZEd table: ${cfs.stats} ${cfs.opens}")
    StagingMaintenance.analyze(spark, "meta_stats", "ws", "t", Seq("k"))
    assert(recordOf(root, "t").stats, "ANALYZE must set the record's stats flag")
    cfs.reset()
    scanOnce(None)
    assert(cfs.opens(sidecar) === 1, cfs.opens)
    assert(spark.sql("SELECT count(*) FROM meta_stats.ws.t WHERE k >= 150")
      .head().getLong(0) === 50L)
    val d = new Path(s"$root/ws/t")
    d.getFileSystem(spark.sessionState.newHadoopConf()).delete(new Path(d, sidecar), false)
    assert(recordOf(root, "t").stats)
    assert(spark.sql("SELECT count(*) FROM meta_stats.ws.t WHERE k >= 150")
      .head().getLong(0) === 50L, "a flag whose sidecar is gone must read as no stats")
    assert(spark.sql("SELECT count(*) FROM meta_stats.ws.t VERSION AS OF 1")
      .head().getLong(0) === 100L)
  }

  test("SET and UNSET of every ALTER-able property: properties() shows the same map") {
    mount("meta_props")
    spark.sql("CREATE NAMESPACE meta_props.ws")
    spark.sql("CREATE TABLE meta_props.ws.p (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.mode'='merge-on-read')")
    def alter(clause: String): Unit = spark.sql(s"ALTER TABLE meta_props.ws.p $clause")
    var expected = Map.empty[String, String]
    assert(props("meta_props", "p") === expected)
    Seq(
      ("check", "v >= 0", Some("v >= 0")),
      ("graft.sort-order", "k", Some("k")),
      ("graft.auto-analyze", "k, v", Some("k,v")),
      ("graft.target-file-size", "65536", Some("65536")),
      ("graft.update.mode", "copy-on-write", None), // declared, not listed
      ("graft.delta.auto-fold-fraction", "0.5", Some("0.5"))
    ).foreach { case (key, value, shown) =>
      alter(s"SET TBLPROPERTIES ('$key'='$value')")
      shown.foreach(s => expected += key -> s)
      assert(props("meta_props", "p") === expected, s"after SET $key")
    }
    Seq("check", "graft.sort-order", "graft.auto-analyze", "graft.target-file-size",
        "graft.update.mode", "graft.delta.auto-fold-fraction").foreach { key =>
      alter(s"UNSET TBLPROPERTIES ('$key')")
      expected -= key
      assert(props("meta_props", "p") === expected, s"after UNSET $key")
    }
    assert(expected.isEmpty)
    spark.sql("INSERT INTO meta_props.ws.p VALUES (1, 1), (2, -5)")
    assert(spark.table("meta_props.ws.p").count() === 2L)
  }

  test("'graft.target-file-size'='0' is refused by CREATE and ALTER alike") {
    mount("meta_tfs")
    spark.sql("CREATE NAMESPACE meta_tfs.ws")
    def refused(sql: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("graft.target-file-size must be positive")), msgs)
    }
    refused("CREATE TABLE meta_tfs.ws.z (k BIGINT) TBLPROPERTIES ('graft.target-file-size'='0')")
    assert(!catalog("meta_tfs").tableExists(Identifier.of(Array("ws"), "z")))
    spark.sql("CREATE TABLE meta_tfs.ws.z (k BIGINT)")
    refused("ALTER TABLE meta_tfs.ws.z SET TBLPROPERTIES ('graft.target-file-size'='0')")
    assert(props("meta_tfs", "z") === Map.empty)
  }

  test("an ALTER racing merge-on-read commits on a sort-ordered table: both edits land") {
    val root = mount("meta_race")
    spark.sql("CREATE NAMESPACE meta_race.ws")
    spark.sql("CREATE TABLE meta_race.ws.r (k BIGINT NOT NULL, v BIGINT) TBLPROPERTIES (" +
      "'graft.write.mode'='merge-on-read', 'graft.merge-keys'='k', 'graft.sort-order'='k')")
    spark.sql("INSERT INTO meta_race.ws.r SELECT id, id FROM range(0, 200)")
    val initial = StagingMaintenance.currentFileNames(spark, "meta_race", "ws", "r").toSet
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit): Thread = new Thread(() =>
      try body catch { case e: Throwable => errors.add(e); () })
    val alters = thread {
      Seq("k", "v", "k", "v", "k", "v").foreach(c =>
        spark.sql(s"ALTER TABLE meta_race.ws.r SET TBLPROPERTIES ('graft.auto-analyze'='$c')"))
    }
    val updates = thread {
      (0 until 4).foreach(i => spark.sql(
        s"UPDATE meta_race.ws.r SET v = v + 1 WHERE k BETWEEN ${i * 20} AND ${i * 20 + 5}"))
    }
    Seq(alters, updates).foreach(_.start())
    Seq(alters, updates).foreach(_.join())
    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("\n"))
    val m = recordOf(root, "r")
    assert(m.autoAnalyze === Seq("v"))
    val fresh = StagingMaintenance.currentFileNames(spark, "meta_race", "ws", "r").toSet -- initial
    assert(fresh.nonEmpty)
    val marked = m.sortUnproven.map(_._2).getOrElse(Set.empty[String])
    assert(fresh.subsetOf(marked), s"delta files missing from the marker: ${fresh -- marked}")
    assert(spark.sql("SELECT sum(v) FROM meta_race.ws.r").collect()(0).getLong(0) ===
      (0L until 200L).sum + 24L)
  }

  test("guard: no retired sidecar name or per-file declaration reader outside TableMeta") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root.resolve("graft")), "run from the repo root")
    val names = Retired.map(n => java.util.regex.Pattern.quote(n) + "(?![\\w.])")
      .mkString("|").r
    val readers = ("""\b(declaredSchema|sortOrderCols|sortOrderUnproven|writeSortOrderSidecar|""" +
      """targetFileSize|partitionCols|retiredPartitionCols|autoAnalyzeCols|ckptInterval|""" +
      """writeMorKey|updateCow|autoFoldFraction|writeMarker|hasBloomSidecar|readNullsFor|""" +
      """groupOf|copySidecar|SchemaSidecar|PartitionSidecar|PartitionPrevSidecar|""" +
      """AutoAnalyzeSidecar|SortOrderSidecar|FileSizeSidecar|CkptIntervalSidecar|""" +
      """MorSidecar|UpdateModeSidecar|AutoFoldSidecar)\b|""" +
      """DeletionVectors\.mode\b|RowLineage\.(enabled|Marker)\b|""" +
      """CheckConstraint\.(read|write|remove)\b""").r
    val strays = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala") &&
        p.getFileName.toString != "TableMeta.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
          (names.findAllIn(l) ++ readers.findAllIn(l)).map(m => s"$p:${i + 1}: $m")
        }
      }.toSeq
    assert(strays.isEmpty, s"retired declaration storage referenced:\n${strays.mkString("\n")}")
  }
}
