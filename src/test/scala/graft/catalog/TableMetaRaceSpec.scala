package graft.sources.catalog

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCatalog}
import org.apache.spark.sql.connector.read.SupportsReportOrdering
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.{CountingFs, SparkSpec}

/** The table record under concurrency: a reader's record is never older
  * than the snapshot it pins, and a reader never sees a partial record.
  */
class TableMetaRaceSpec extends SparkSpec {

  test("a commit that marks and publishes during a table load leaves no ordering report") {
    val root = Files.createTempDirectory("graft_meta_order_").toString
    spark.conf.set("spark.sql.catalog.meta_order", classOf[GraftStagingCatalog].getName)
    spark.conf.set("spark.sql.catalog.meta_order.root", root)
    val cat = CountingFs.capture(spark) {
      spark.sessionState.catalogManager.catalog("meta_order"); ()
    }
    val catalog = spark.sessionState.catalogManager.catalog("meta_order")
      .asInstanceOf[TableCatalog]
    spark.sql("CREATE NAMESPACE meta_order.ws")
    spark.sql("CREATE TABLE meta_order.ws.o (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('graft.sort-order'='k')")
    spark.sql("INSERT INTO meta_order.ws.o " +
      "SELECT (id * 77) % 400, id FROM range(0, 400)")
    StagingMaintenance.optimize(spark, "meta_order", "ws", "o",
      partitionBy = Some("bucket(4,k)"))
    val ident = Identifier.of(Array("ws"), "o")
    def ordering(t: Table): Seq[String] =
      t.asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty())
        .build() match {
          case s: SupportsReportOrdering => s.outputOrdering().map(_.toString).toSeq
          case _                         => Nil
        }
    assert(ordering(catalog.loadTable(ident)).nonEmpty,
      "a bucketed, sorted snapshot should report its ordering")

    // the racing commit, as a merge-on-read commit does it: mark the new
    // delta file unsorted, then publish a manifest that holds it. It lands
    // at the reader's first look at the version log.
    val d = new Path(root, "ws/o")
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    val files = StagingMaintenance.currentFileNames(spark, "meta_order", "ws", "o")
    val src = files.find(_.startsWith("k_bucket=0/")).getOrElse(fail(files.mkString(",")))
    val delta = "k_bucket=0/delta-race.parquet"
    @volatile var fired = false
    cat.before = p => if (!fired && p.toString.contains(GraftStagingCatalog.VersionsDir)) {
      fired = true
      FileUtil.copy(fs, new Path(d, src), fs, new Path(d, delta), false, fs.getConf)
      GraftStagingCatalog.markUnsorted(fs, d, Seq(delta))
      GraftStagingCatalog.writeExplicitManifest(fs, d, TableMeta.read(fs, d),
        files :+ delta, kind = "merge")
      ()
    }
    val t = try catalog.loadTable(ident) finally cat.before = _ => ()
    assert(fired)
    assert(TableMeta.read(fs, d).sortUnproven.exists(_._2(delta)))
    assert(ordering(t).isEmpty,
      "the snapshot holds a delta file marked unsorted, so no ordering may be reported")
    assert(spark.table("meta_order.ws.o").count() > 400L)
  }

  test("record reads never see a partial record while commits mark files") {
    val d = new Path(Files.createTempDirectory("graft_meta_torn_").toUri)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    TableMeta.update(fs, d)(_ => TableMeta(schema = Some(schema), sortOrder = Seq("k")))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (0 until 2).map(_ => new Thread(() =>
      while (!stop.get()) {
        try {
          val m = TableMeta.read(fs, d)
          if (m.schema.isEmpty || m.sortOrder != Seq("k")) errors.add(s"defaults read: $m")
        } catch { case e: Exception => errors.add(e.toString) }
        reads.incrementAndGet()
      }))
    readers.foreach(_.start())
    try (0 until 300).foreach(i => GraftStagingCatalog.markUnsorted(fs, d,
      Seq(f"k_bucket=${i % 4}/part-$i%05d-0a1b2c3d-4e5f-6a7b-8c9d-0e1f2a3b4c5d.c000.parquet")))
    finally { stop.set(true); readers.foreach(_.join()) }
    assert(errors.isEmpty, s"${errors.size} bad reads, first: ${errors.peek()}")
    assert(reads.get() > 0L)
    assert(TableMeta.read(fs, d).sortUnproven.map(_._2.size) === Some(300))
  }
}
