package graft.catalog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.TableCatalog

import graft.{CountingFs, SparkSpec}
import graft.sources.catalog.{Checkpoint, GraftStagingCatalog, Manifest, RowLineage,
  StagingMaintenance}

/** The version-manifest record: one codec whose text matches what the
  * catalog has always written, one `open` per manifest a statement needs,
  * and a torn manifest that fails loudly instead of reading as empty.
  */
class ManifestSpec extends SparkSpec {

  /** The hand-built encoder the record replaced, kept as the reference the
    * record's text must match byte for byte.
    */
  private def reference(ts: Long, files: Seq[String], batchId: Option[Long], kind: String,
      dvs: Seq[String] = Seq.empty, rowIds: Option[(Seq[String], Long)] = None): String = {
    val bid = batchId.map(b => s""""batchId":$b,""").getOrElse("")
    val dvField =
      if (dvs.isEmpty) ""
      else s""""dvs":[${dvs.distinct.sorted.map(f => "\"" + f + "\"").mkString(",")}],"""
    val ridField = rowIds.map { case (entries, next) =>
      s""""nextRowId":$next,"rowIds":[${entries.map(e => "\"" + e + "\"").mkString(",")}],"""
    }.getOrElse("")
    s"""{"ts":$ts,"kind":"$kind",$bid$dvField$ridField"files":[${
      files.distinct.sorted.map(f => "\"" + f + "\"").mkString(",")}]}"""
  }

  private def mount(name: String): String = {
    val root = Files.createTempDirectory(s"graft_${name}_").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftStagingCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    root
  }

  private def catalog(name: String): TableCatalog =
    spark.sessionState.catalogManager.catalog(name).asInstanceOf[TableCatalog]

  /** Opens of version manifests (`v<N>.json`) by name, from a counter. */
  private def manifestOpens(cfs: CountingFs): Map[String, Int] =
    cfs.opens.toMap.filter { case (n, c) => n.matches("v\\d+\\.json") && c > 0 }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("codec: every field round-trips; each writer's text matches the reference encoder") {
    val full = Manifest(1700000000123L, "merge", Some(42L), Seq("dv-b.json", "dv-a.json"),
      Map("k=1/a.parquet" -> RowLineage.Entry(0L, mat = false),
        "b.parquet" -> RowLineage.Entry(RowLineage.Stride, mat = true)),
      Some(2 * RowLineage.Stride), Seq("k=1/a.parquet", "b.parquet"))
    val back = Manifest.decode("full", full.json)
    assert(back === full.copy(dvs = full.dvs.sorted, files = full.files.sorted))
    assert(Manifest.decode("again", back.json) === back)

    val ts = 1700000000123L
    // an append tagged with a streaming batch id
    assert(Manifest(ts, "commit", Some(7L), files = Seq("b.parquet", "a.parquet", "a.parquet"))
      .json === reference(ts, Seq("b.parquet", "a.parquet", "a.parquet"), Some(7L), "commit"))
    // a merge-on-read delete: deletion vectors, no batch id
    assert(Manifest(ts, "delete", None, Seq("dv-2.json", "dv-1.json"), files = Seq("a.parquet"))
      .json === reference(ts, Seq("a.parquet"), None, "delete", Seq("dv-2.json", "dv-1.json")))
    // a lineage vector with its watermark, and a lineage table with no files
    val ents = Map("opt-x.parquet" -> RowLineage.Entry(RowLineage.Stride, mat = true),
      "a.parquet" -> RowLineage.Entry(0L, mat = false))
    assert(Manifest(ts, "optimize", None, Nil, ents, Some(2 * RowLineage.Stride),
        Seq("opt-x.parquet", "a.parquet")).json ===
      reference(ts, Seq("opt-x.parquet", "a.parquet"), None, "optimize",
        rowIds = Some((Seq("a.parquet|0|v", s"opt-x.parquet|${RowLineage.Stride}|m"),
          2 * RowLineage.Stride))))
    assert(Manifest(ts, "commit", nextRowId = Some(0L)).json ===
      reference(ts, Nil, None, "commit", rowIds = Some((Nil, 0L))))
    // a shallow clone's borrowed absolute paths
    val borrowed = Seq("file:/warehouse/src/part-00001.parquet",
      "file:/warehouse/src/k=2/part-0.parquet")
    assert(Manifest(ts, "clone", files = borrowed).json ===
      reference(ts, borrowed, None, "clone"))
    // `k=v/` partition layouts
    val parted = Seq("k=2/part-1.parquet", "k=1/part-0.parquet", "part-2.parquet")
    assert(Manifest(ts, "overwrite", files = parted).json ===
      reference(ts, parted, None, "overwrite"))
    assert(Manifest(ts, "commit").json === """{"ts":1700000000123,"kind":"commit","files":[]}""")

    // a legacy manifest carries neither kind nor dvs: an append without deletes
    val legacy = Manifest.decode("legacy", """{"ts":5,"files":["a.parquet","b.parquet"]}""")
    assert(legacy === Manifest(5L, "commit", files = Seq("a.parquet", "b.parquet")))
    assert(legacy.watermark === 0L && legacy.nextRowId.isEmpty)
  }

  test("codec: anything but a complete manifest fails, naming the file") {
    val good = Manifest(9L, "commit", Some(1L), Seq("dv.json"), files = Seq("a.parquet")).json
    val torn = Seq("", "   ", good.take(good.length / 2), good.dropRight(1),
      """{"ts":9,"kind":"commit"}""", """["a.parquet"]""", """{"ts":"x","files":[]}""",
      """{"ts":9,"files":"a.parquet"}""", """{"ts":9,"nextRowId":0,"rowIds":["a"],"files":[]}""")
    torn.foreach { txt =>
      val e = intercept[IllegalStateException](Manifest.decode("v7.json", txt))
      assert(e.getMessage.startsWith("malformed manifest v7.json"), s"$txt -> ${e.getMessage}")
    }
  }

  test("checkpoint codec: text, round trip, the eof sentinel, and legacy history") {
    val c = Checkpoint(10L, Set(3L, 1L), Seq(1L -> 100L, 2L -> 200L),
      Seq("dv.json"), Seq("b.parquet", "a.parquet"))
    assert(c.json === """{"version":10,"batchIds":[1,3],"hv":[1,2],"hts":[100,200],""" +
      """"dvs":["dv.json"],"files":["a.parquet","b.parquet"],"eof":1}""")
    assert(Checkpoint.decode(c.json) === Some(c.copy(files = c.files.sorted)))
    // torn, sentinel-less or malformed checkpoints read as absent
    assert(Checkpoint.decode(c.json.dropRight(1)) === None)
    assert(Checkpoint.decode(c.json.take(20)) === None)
    assert(Checkpoint.decode("") === None)
    assert(Checkpoint.decode("""{"version":1,"hv":[1],"hts":[],"eof":1}""") === None)
    assert(Checkpoint.decode("""{"version":"x","eof":1}""") === None)
    // a checkpoint written before the history arrays
    assert(Checkpoint.decode("""{"version":4,"batchIds":[2],"dvs":[],"files":["a"],"eof":1}""") ===
      Some(Checkpoint(4L, Set(2L), Nil, Nil, Seq("a"))))
  }

  test("counts: reads open their manifest once; a plain INSERT opens no manifest but its head, at most twice") {
    mount("mf_cnt")
    val cfs = CountingFs.capture(spark) { catalog("mf_cnt"); () }
    spark.sql("CREATE NAMESPACE mf_cnt.ws")
    spark.sql("CREATE TABLE mf_cnt.ws.t (k BIGINT, v BIGINT)")
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO mf_cnt.ws.t SELECT id, id FROM range(${i * 10}, ${i * 10 + 10})"))
    cfs.reset()
    assert(spark.table("mf_cnt.ws.t").count() === 40L)
    assert(manifestOpens(cfs) === Map("v4.json" -> 1), cfs.opens)
    cfs.reset()
    assert(spark.sql("SELECT count(*) FROM mf_cnt.ws.t VERSION AS OF 2").head().getLong(0) === 20L)
    assert(manifestOpens(cfs) === Map("v2.json" -> 1), cfs.opens)
    // no checkpoint yet, so an INSERT that read the exactly-once ledger
    // would open every manifest of the log
    cfs.reset()
    spark.sql("INSERT INTO mf_cnt.ws.t SELECT id, id FROM range(40, 50)")
    val opened = manifestOpens(cfs)
    assert(opened.keySet === Set("v4.json") && opened("v4.json") <= 2, cfs.opens)
    assert(spark.table("mf_cnt.ws.t").count() === 50L)
  }

  test("counts: a checkpointing commit, .snapshots and history read each manifest once") {
    mount("mf_ckpt")
    val cfs = CountingFs.capture(spark) { catalog("mf_ckpt"); () }
    spark.sql("CREATE NAMESPACE mf_ckpt.ws")
    spark.sql("CREATE TABLE mf_ckpt.ws.t (k BIGINT)")
    (1 to 9).foreach(i => spark.sql(s"INSERT INTO mf_ckpt.ws.t VALUES ($i)"))
    cfs.reset()
    spark.sql("INSERT INTO mf_ckpt.ws.t VALUES (10)") // v10: the first checkpoint
    // one walk builds both the ledger and the history; v9 is also the head
    // the statement resolved and committed on
    (1 to 8).foreach(v => assert(cfs.opens(s"v$v.json") === 1, s"v$v: ${cfs.opens}"))
    assert(cfs.opens("v10.json") === 1, cfs.opens)
    assert(cfs.opens("ckpt-v10.json") === 0, cfs.opens)
    cfs.reset()
    val snaps = spark.sql("SELECT version, kind, n_files FROM mf_ckpt.ws.t.snapshots ORDER BY version")
      .collect()
    assert(snaps.map(_.getLong(0)).toSeq === (1L to 10L))
    assert(snaps.forall(_.getString(1) == "commit"))
    assert(manifestOpens(cfs) === (1 to 10).map(v => s"v$v.json" -> 1).toMap, cfs.opens)
    // the procedure resolves its own FileSystem: count across instances
    var hist = Array.empty[org.apache.spark.sql.Row]
    CountingFs.capture(spark) {
      hist = StagingMaintenance.history(spark, "mf_ckpt", "ws", "t").collect()
    }
    assert(hist.map(_.getLong(2)).toSeq === (1L to 10L))
    assert(CountingFs.allOpens.asScala.toMap.filter(_._1.matches("v\\d+\\.json")) ===
      (1 to 10).map(v => s"v$v.json" -> Integer.valueOf(1)).toMap, CountingFs.allOpens)
  }

  test("a torn head manifest fails every read and commit, naming the file; no row is dropped") {
    val root = mount("mf_torn")
    spark.sql("CREATE NAMESPACE mf_torn.ws")
    spark.sql("CREATE TABLE mf_torn.ws.t (k BIGINT)")
    spark.sql("INSERT INTO mf_torn.ws.t VALUES (1), (2), (3)")
    spark.sql("INSERT INTO mf_torn.ws.t VALUES (4), (5)")
    val vd = Paths.get(root, "ws", "t", "_graft_versions")
    val good = new String(Files.readAllBytes(vd.resolve("v2.json")), "UTF-8")
    Seq("" -> "empty", good.take(good.length / 2) -> "truncated").foreach { case (txt, what) =>
      val v3 = vd.resolve("v3.json")
      Files.write(v3, txt.getBytes("UTF-8"))
      val read = intercept[Exception](spark.table("mf_torn.ws.t").count())
      assert(messages(read).contains("malformed manifest") && messages(read).contains("v3.json"),
        s"$what head read: ${messages(read)}")
      val insert = intercept[Exception](spark.sql("INSERT INTO mf_torn.ws.t VALUES (6)"))
      assert(messages(insert).contains("v3.json"), s"$what head insert: ${messages(insert)}")
      Files.delete(v3)
      assert(Files.list(vd).iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("v\\d+\\.json")).toSet === Set("v1.json", "v2.json"))
      assert(spark.table("mf_torn.ws.t").count() === 5L)
      assert(spark.sql("SELECT count(*) FROM mf_torn.ws.t VERSION AS OF 1").head().getLong(0) === 3L)
    }
  }

  test("guard: the retired manifest readers and field regexes appear under sources/ only in Manifest.scala") {
    val root = Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(root), "run from the repo root")
    val retired = ("""\b(manifestJson|manifestFiles|manifestDvs|parseManifestFiles|commitMillis|""" +
      """manifestKind|assembleHistory|readCheckpointTxt|renderVector)\b|""" +
      """RowLineage\.parse\b|GraftStagingCatalog\.parseArray\b|""" +
      java.util.regex.Pattern.quote("\\\"batchId\\\":") + "|" +
      java.util.regex.Pattern.quote("\\\"kind\\\":") + "|" +
      java.util.regex.Pattern.quote("\\\"ts\\\":")).r
    val strays = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Manifest.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
          retired.findAllIn(l).map(m => s"$p:${i + 1}: $m")
        }
      }.toSeq
    assert(strays.isEmpty, s"manifest read outside the record:\n${strays.mkString("\n")}")
    // the guard matches what it guards against
    assert(retired.findFirstIn("\"\\\"kind\\\":\\\"([a-z]+)\\\"\".r").isDefined)
    assert(retired.findFirstIn("manifestFiles(fs, mf)").isDefined)
  }
}
