package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins session policy: the factory's settings are Bench's, perfbench's
  * copy of them has not drifted, and no second session builder exists.
  */
class SessionSpec extends SparkSpec {
  /** Bench's session settings, besides master and shuffle partitions. */
  private val benchSettings = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    "spark.ui.enabled" -> "false",
  )

  test("the factory's session carries exactly Bench's settings") {
    assert(Session.Settings == benchSettings)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    benchSettings.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString == "WARN")
  }

  test("a second call returns the same session") {
    assert(Session.local(4) eq spark)
  }

  test("perfbench's session copies the factory's settings") {
    val main = new String(Files.readAllBytes(
      Paths.get("perfbench/src/main/scala/perfbench/Main.scala")), "UTF-8")
    val start = main.indexOf("private def session()")
    assert(start >= 0, "perfbench Main has no session()")
    val body = main.substring(start, main.indexOf("getOrCreate()", start))
    // literal-valued settings only: perfbench's run-directory paths and
    // counting FileSystem are its own
    val literal = "\\.config\\(\"([^\"]+)\",\\s*\"([^\"]*)\"\\)".r
    val copied = literal.findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toSeq
    assert(copied.sorted == Session.Settings.sorted)
    assert(body.contains(".master(s\"local[$cores]\")"))
    assert(body.contains(".config(\"spark.sql.shuffle.partitions\", cores.toString)"))
  }

  test("only the factory builds a SparkSession") {
    val builder = "SparkSession\\s*\\.\\s*[bB]uilder".r
    val root = Paths.get("src")
    assert(Files.isDirectory(root.resolve("main/scala/graft")), "run from the repo root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.matches(".*\\.(scala|java)$"))
    val sites = files.flatMap { (p: Path) =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      builder.findAllMatchIn(text).map(_ => p.toString)
    }.toSeq
    assert(sites == Seq("src/main/scala/graft/Session.scala"))
  }
}
