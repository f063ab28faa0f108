package graft.catalog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, V2ExistingTableWriteExec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory

import graft.{CountingFs, SparkSpec}
import graft.sources.catalog.{GraftStagingCatalog, ScanConf}

/** Catalog scans and tasks ship the Hadoop configuration once per session
  * ([[ScanConf]]): repeated reads broadcast nothing new, a changed setting
  * gets a fresh factory, and no factory embeds a Configuration.
  */
class ScanConfSpec extends SparkSpec {

  private def mount(name: String): String = {
    val root = Files.createTempDirectory(s"graft_${name}_").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftStagingCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.sql(s"CREATE NAMESPACE $name.ws")
    root
  }

  private def batchScans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
    case b: BatchScanExec         => Seq(b)
    case a: AdaptiveSparkPlanExec => batchScans(a.executedPlan)
  }.flatten

  /** Plans `df` and builds its scans' reader factories, as execution does. */
  private def factories(df: DataFrame): Seq[PartitionReaderFactory] = {
    val scans = batchScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no batch scan planned")
    scans.map(_.readerFactory)
  }

  /** Broadcasts `body` creates, not counting the probes themselves. */
  private def newBroadcasts(body: => Unit): Long = {
    val before = spark.sparkContext.broadcast(0).id
    body
    spark.sparkContext.broadcast(0).id - before - 1
  }

  private def serializedSize(o: AnyRef): Int = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    try out.writeObject(o) finally out.close()
    bytes.size()
  }

  test("warm reads of an unchanged table broadcast no Hadoop configuration") {
    mount("sc_cnt")
    spark.sql("CREATE TABLE sc_cnt.ws.cow (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO sc_cnt.ws.cow SELECT id, id FROM range(0, 300)")
    spark.sql("INSERT INTO sc_cnt.ws.cow SELECT id, id FROM range(300, 400)")
    spark.sql("CREATE TABLE sc_cnt.ws.mor (k BIGINT NOT NULL, v BIGINT) TBLPROPERTIES " +
      "('graft.write.mode'='merge-on-read', 'graft.merge-keys'='k')")
    spark.sql("INSERT INTO sc_cnt.ws.mor SELECT id, id FROM range(0, 300)")
    spark.sql("DELETE FROM sc_cnt.ws.mor WHERE k < 20")
    spark.sql("UPDATE sc_cnt.ws.mor SET v = -v WHERE k BETWEEN 100 AND 110")
    val reads = Seq.fill(10)("SELECT * FROM sc_cnt.ws.cow") ++
      Seq.fill(2)("SELECT * FROM sc_cnt.ws.cow VERSION AS OF 1") ++
      Seq.fill(3)("SELECT * FROM sc_cnt.ws.mor")
    reads.distinct.foreach(q => factories(spark.sql(q))) // warm
    assert(newBroadcasts(reads.foreach(q => factories(spark.sql(q)))) === 0L)
    // the factories built from the cache read correctly
    assert(spark.sql("SELECT * FROM sc_cnt.ws.cow").count() === 400L)
    assert(spark.sql("SELECT * FROM sc_cnt.ws.cow VERSION AS OF 1").count() === 300L)
    assert(spark.sql("SELECT * FROM sc_cnt.ws.mor").count() === 280L)
    assert(spark.sql("SELECT count(*) FROM sc_cnt.ws.mor WHERE v < 0").head().getLong(0) === 11L)
  }

  test("a changed Hadoop or SQL setting gets a fresh factory that carries it") {
    mount("sc_set")
    spark.sql("CREATE TABLE sc_set.ws.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO sc_set.ws.t SELECT id, id FROM range(0, 100)")
    val q = "SELECT * FROM sc_set.ws.t"
    def parquetFactory(): ParquetPartitionReaderFactory =
      factories(spark.sql(q)).head.asInstanceOf[ParquetPartitionReaderFactory]
    val base = parquetFactory()
    val again = parquetFactory()
    assert(again ne base, "each scan must get its own factory")
    assert(again.broadcastedConf eq base.broadcastedConf,
      "an unchanged scan shape must reuse its broadcast")
    val key = "spark.hadoop.graft.scanconf.probe"
    spark.conf.set(key, "on")
    try {
      val set = parquetFactory()
      assert(set.broadcastedConf ne base.broadcastedConf)
      assert(set.broadcastedConf.value.value.get(key) === "on")
      assert(base.broadcastedConf.value.value.get(key) === null)
    } finally spark.conf.unset(key)
    assert(parquetFactory().broadcastedConf eq base.broadcastedConf,
      "the unset setting must map back to the first broadcast")

    val part = batchScans(spark.sql(q).queryExecution.executedPlan).head.inputPartitions.head
    assert(base.supportColumnarReads(part), "the vectorized reader is on by default")
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try {
      val rowBased = parquetFactory()
      assert(rowBased.broadcastedConf ne base.broadcastedConf)
      assert(!rowBased.supportColumnarReads(part))
      assert(spark.sql(q).count() === 100L)
    } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
  }

  test("CountingFs.capture still counts executor-side opens of a catalog read") {
    mount("sc_cfs")
    spark.sql("CREATE TABLE sc_cfs.ws.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO sc_cfs.ws.t SELECT id, id FROM range(0, 100)")
    assert(spark.table("sc_cfs.ws.t").count() === 100L) // warm the plain factory
    CountingFs.capture(spark) {
      assert(spark.table("sc_cfs.ws.t").collect().length === 100)
    }
    val parquetOpens = CountingFs.allOpens.asScala.collect {
      case (n, c) if n.endsWith(".parquet") => c.intValue
    }.sum
    assert(parquetOpens > 0, s"no data file opened through CountingFs: ${CountingFs.allOpens}")
  }

  test("no DV'd merge-on-read reader or writer factory embeds a Configuration") {
    mount("sc_size")
    val bound = 16 * 1024
    val info = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    def writerFactories(sql: String) = {
      val plan = spark.sql(sql).queryExecution.executedPlan match {
        case c: CommandResultExec => c.commandPhysicalPlan
        case p                    => p
      }
      val ws = plan.collect { case w: V2ExistingTableWriteExec => w }
      assert(ws.nonEmpty, s"no V2 write planned for $sql")
      ws.map(_.write.toBatch.createBatchWriterFactory(info))
    }
    // a delta statement of each kind: a keyed DELETE, and a keyless MERGE
    // (a keyless DELETE writes its sidecar on the driver)
    val keyedDelete = "DELETE FROM sc_size.ws.keyed WHERE k < 10"
    val keylessDelete = "MERGE INTO sc_size.ws.keyless tgt USING " +
      "(SELECT id AS k FROM range(0, 10)) src ON tgt.k = src.k WHEN MATCHED THEN DELETE"
    for ((t, props, delete) <- Seq(
        ("keyed", "'graft.write.mode'='merge-on-read', 'graft.merge-keys'='k'", keyedDelete),
        ("keyless", "'graft.write.mode'='merge-on-read'", keylessDelete))) {
      spark.sql(s"CREATE TABLE sc_size.ws.$t (k BIGINT NOT NULL, v BIGINT) TBLPROPERTIES ($props)")
      spark.sql(s"INSERT INTO sc_size.ws.$t SELECT id, id FROM range(0, 200)")
      // a delete-only delta: an UPDATE's factory also carries Spark's own
      // parquet write job, whose description embeds the job configuration
      val writers = writerFactories(delete)
      spark.sql(s"UPDATE sc_size.ws.$t SET v = 0 WHERE k BETWEEN 50 AND 60")
      val readers = factories(spark.sql(s"SELECT * FROM sc_size.ws.$t")) ++
        factories(spark.sql(s"SELECT k FROM sc_size.ws.$t WHERE v > 5"))
      for (f <- readers) {
        val n = serializedSize(f)
        assert(n < bound, s"$t: ${f.getClass.getSimpleName} serializes to $n bytes")
      }
      // a delta writer wraps Spark's own parquet write factory (its job
      // description embeds the write job's configuration): bound what the
      // catalog adds around it
      for (f <- writers) {
        val innerField = f.getClass.getDeclaredFields.find(_.getName.endsWith("inner")).get
        innerField.setAccessible(true)
        val inner = innerField.get(f).asInstanceOf[Option[AnyRef]]
        val n = serializedSize(f) - inner.fold(0)(serializedSize)
        assert(n < bound, s"$t: ${f.getClass.getSimpleName} adds $n bytes")
      }
      assert(spark.sql(s"SELECT * FROM sc_size.ws.$t").count() === 190L)
    }
  }

  test("a stopped and rebuilt SparkContext never gets an old entry") {
    // the check stops its context, so it runs in a JVM of its own
    val root = Files.createTempDirectory("graft_sc_restart_").toString
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=")            => Seq(a)
      case (a, i) if a == "--add-opens" && i + 1 < jvmArgs.size => Seq(a, jvmArgs(i + 1))
      case _                                                   => Nil
    }
    val cmd = Seq(javaBin, "-Xmx768m", "-Dspark.ui.enabled=false") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"),
        ScanConfRestart.getClass.getName.stripSuffix("$"), root)
    val log = new StringBuilder
    val exit = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => log.append(l).append('\n'),
        l => log.append(l).append('\n')))
    assert(exit === 0, s"restart check failed:\n${log.toString.takeRight(4000)}")
    assert(log.toString.contains("restart-ok"), log.toString.takeRight(4000))
  }

  test("guard: only ScanConf builds a SerializableConfiguration under sources/") {
    val root = Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(root), "run from the repo root")
    val pat = """new\s+(org\.apache\.spark\.util\.)?SerializableConfiguration\s*\(""".r
    val strays = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala") &&
        p.getFileName.toString != "ScanConf.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if pat.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
        }
      }.toSeq
    assert(strays.isEmpty,
      s"a Configuration shipped outside ScanConf:\n${strays.mkString("\n")}")
  }
}

/** Child-JVM half of the restart check: reads through the catalog, stops
  * the context, rebuilds it, and reads again. The second context must get
  * its own broadcast and factory, and its reads must work.
  */
object ScanConfRestart {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    def session(): SparkSession = {
      val s = graft.Session.local(1)
      s.conf.set("spark.sql.catalog.rs", classOf[GraftStagingCatalog].getName)
      s.conf.set("spark.sql.catalog.rs.root", root)
      s
    }
    def factoryConf(s: SparkSession) =
      s.table("rs.ws.cow").queryExecution.executedPlan
        .collectFirst { case b: BatchScanExec => b.readerFactory }.get
        .asInstanceOf[ParquetPartitionReaderFactory].broadcastedConf
    def check(ok: Boolean, what: String): Unit =
      if (!ok) { System.err.println(s"restart check: $what"); sys.exit(1) }
    val s1 = session()
    s1.sql("CREATE NAMESPACE rs.ws")
    s1.sql("CREATE TABLE rs.ws.cow (k BIGINT, v BIGINT)")
    s1.sql("INSERT INTO rs.ws.cow SELECT id, id FROM range(0, 100)")
    s1.sql("CREATE TABLE rs.ws.mor (k BIGINT NOT NULL, v BIGINT) TBLPROPERTIES " +
      "('graft.write.mode'='merge-on-read', 'graft.merge-keys'='k')")
    s1.sql("INSERT INTO rs.ws.mor SELECT id, id FROM range(0, 100)")
    s1.sql("DELETE FROM rs.ws.mor WHERE k < 10")
    check(s1.table("rs.ws.mor").count() == 90L, "first context's MoR read")
    val bc1 = ScanConf.broadcast(s1)
    val f1 = factoryConf(s1)
    check(factoryConf(s1) eq f1, "first context did not reuse its factory's broadcast")
    s1.stop()
    val s2 = session()
    check(s2.sparkContext ne s1.sparkContext, "no new context")
    val bc2 = ScanConf.broadcast(s2)
    check(bc2 ne bc1, "rebuilt context got the stopped context's broadcast")
    check(factoryConf(s2) ne f1, "rebuilt context got the stopped context's factory")
    check(s2.table("rs.ws.cow").count() == 100L, "rebuilt context's CoW read")
    check(s2.table("rs.ws.mor").count() == 90L, "rebuilt context's MoR read")
    s2.stop()
    println("restart-ok")
  }
}
