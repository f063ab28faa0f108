package graft.catalog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.CountingFs
import graft.sources.catalog.{DeletionVectors, TableMeta}
import graft.sources.catalog.DeletionVectors.{Deletes, DvSidecar, MorMode}

/** The deletion-vector sidecar format behind its one decoder: every kind
  * decodes into its own part of [[Deletes]], every writer's text survives
  * a decode/encode round trip byte for byte, [[Deletes.at]] reads each
  * file once, and no code outside the codec reads the type tags. Pure
  * driver-side — no SparkSession.
  */
class DeletesSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val local = FileSystem.getLocal(conf)

  private def write(p: Path, s: String): Unit = {
    val out = local.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def read(p: Path): String = {
    val in = local.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  /** A keyed-MOR table dir whose v1 manifest names one sidecar of each
    * kind (inline long keys, inline string keys, key bins, inline
    * positions, position runs) and whose v2 manifest names none.
    */
  private def fixture(): (Path, Seq[String]) = {
    val d = new Path(Files.createTempDirectory("deletesspec_").toUri)
    TableMeta.update(local, d)(_.copy(mor = MorMode.Key("k")))
    val names = Seq(
      DeletionVectors.writeDv(local, d, "k", isString = false, Seq("a.parquet"), Set(1L, 2L)),
      DeletionVectors.writeDv(local, d, "s", isString = true, Seq("b.parquet"),
        Set("x y", "z/é")),
      DeletionVectors.writeKeyRunDescriptor(local, d, "dvk-t1", "k", isString = false,
        Seq("c.parquet", "k=1/c2.parquet"), Seq("b-2.txt", "b-1.txt"), 3L),
      DeletionVectors.writePosDv(local, d, Map("d.parquet" -> Seq(5L, 4L, 5L))),
      DeletionVectors.writeRunDescriptor(local, d, "dvr-t2",
        Map("e.parquet" -> Seq("run-1.bin"), "f.parquet" -> Seq()), 7L))
    val vd = new Path(d, "_graft_versions")
    write(new Path(vd, "v1.json"),
      s"""{"ts":1,"kind":"commit","dvs":[${names.sorted.map("\"" + _ + "\"").mkString(",")}],""" +
        """"files":["a.parquet","b.parquet","c.parquet","d.parquet","e.parquet"]}""")
    write(new Path(vd, "v2.json"), """{"ts":2,"kind":"optimize","files":["g.parquet"]}""")
    (d, names)
  }

  test("one decoder: each sidecar kind lands only in its own part of Deletes") {
    val (d, _) = fixture()
    val del = Deletes.at(local, d, new Path(d, "_graft_versions/v1.json"))
    assert(del.mode === MorMode.Key("k"))
    assert(del.inline === Map("a.parquet" -> Set[Any](1L, 2L),
      "b.parquet" -> Set[Any]("x y", "z/é")))
    assert(del.keyRuns.size === 1)
    val kr = del.keyRuns.head
    assert(kr.keyCol === "k" && !kr.isString && kr.count === 3L)
    assert(kr.files === Set("c.parquet", "k=1/c2.parquet"))
    assert(kr.spec.bins === Seq("b-1.txt", "b-2.txt"))
    assert(kr.spec.dirUri === new Path(d, "_graft_dv/dvk-t1").toString)
    assert(del.pos.map === Map("d.parquet" -> Set(4L, 5L)))
    // a run entry with no bins covers nothing
    assert(del.pos.runs === Map("e.parquet" ->
      Seq(new Path(d, "_graft_dv/dvr-t2/run-1.bin").toString)))
    assert(del.covered ===
      Set("a.parquet", "b.parquet", "c.parquet", "k=1/c2.parquet", "d.parquet", "e.parquet"))
    // scoping keeps each kind in its part
    val r = del.restrict(Set("a.parquet", "c.parquet", "e.parquet"))
    assert(r.inline.keySet === Set("a.parquet"))
    assert(r.keyRuns.map(_.files) === Seq(Set("c.parquet")))
    assert(r.pos.map.isEmpty && r.pos.runs.keySet === Set("e.parquet"))
    assert(del.stateOf("c.parquet")._2 === Set(kr.spec.dirUri))
    assert(del.stateOf("g.parquet") === ((Set.empty, Set.empty, (Set.empty, Seq.empty))))
  }

  test("every writer's sidecar text decodes and re-encodes byte for byte") {
    val (d, names) = fixture()
    val decoded = names.map { n =>
      val txt = read(new Path(d, s"_graft_dv/$n"))
      val sc = DvSidecar.decode(n, txt)
      assert(sc.json === txt, s"$n does not round-trip")
      sc
    }
    assert(decoded.map(_.getClass.getSimpleName) ===
      Seq("Keys", "Keys", "KeyRun", "Pos", "PosRun"))
  }

  test("Deletes.at reads the manifest once, the mode sidecar at most once, each sidecar once") {
    val (d, names) = fixture()
    val fs = new CountingFs(local)
    val del = Deletes.at(fs, d, new Path(d, "_graft_versions/v1.json"))
    assert(del.covered.size === 6)
    assert(fs.opens("v1.json") === 1)
    assert(fs.opens(TableMeta.FileName) <= 1)
    assert(fs.stats(TableMeta.FileName) === 0)
    names.foreach(n => assert(fs.opens(n) === 1, s"sidecar $n"))
    assert(fs.opens.keySet === (names.toSet + "v1.json" + TableMeta.FileName))
    // a DV-free version reads its manifest and nothing else
    val clean = new CountingFs(local)
    assert(Deletes.at(clean, d, new Path(d, "_graft_versions/v2.json")) === Deletes.none)
    assert(clean.opens.toMap === Map("v2.json" -> 1) && clean.stats.isEmpty)
  }

  test("only the codec reads DV type tags; the retired loaders stay gone") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root.resolve("main/scala/graft")), "run from the repo root")
    def sources(under: String): Seq[java.nio.file.Path] =
      Files.walk(root.resolve(under)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val dvFile = "src/main/scala/graft/sources/catalog/DeletionVectors.scala"
    // a `"type":"pos|posrun|keyrun"` pair or a quoted bare tag, raw or escaped
    val tag = ("""type\\?"\s*:\s*\\?"(?:pos|posrun|keyrun)\\?"""" + "|" +
      """\\?"(?:posrun|keyrun)\\?"""").r
    val strays = sources("main").flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toSeq
      val codec =
        if (p.toString != dvFile) Range(0, 0)
        else {
          val start = lines.indexOf("  object DvSidecar {")
          assert(start >= 0, "DvSidecar codec not found")
          start to lines.indexOf("  }", start)
        }
      lines.zipWithIndex.collect {
        case (l, i) if tag.findFirstIn(l).isDefined && !codec.contains(i) => s"$p:${i + 1}"
      }
    }
    assert(strays.isEmpty, s"DV type tags outside the codec: $strays")
    val retired = Seq("dvMapAt", "keyRunsAt", "posMapAt", "loadDvs", "loadKeyRuns",
      "loadPosDvs", "morKey", "morPos").mkString("""\b(""", "|", """)\b""").r
    val self = "DeletesSpec.scala"
    val uses = sources("").filterNot(_.getFileName.toString == self).flatMap { p =>
      retired.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).map(m => s"$p: $m")
    }
    assert(uses.isEmpty, s"retired DV loaders referenced: $uses")
  }
}
