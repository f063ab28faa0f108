package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, Plans and the specs all build
  * their SparkSession here, so session policy is decided in one place.
  * perfbench's `Main` keeps its own copy of [[Settings]] (it adds only its
  * run-directory paths and counting FileSystem); `SessionSpec` pins both.
  */
object Session {
  /** Every session's settings besides master and shuffle partitions, which
    * follow the core count.
    */
  val Settings: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts may be TIMESTAMP(NANOS), which the vectorized reader rejects
    // unless read as a long (see Tables.eventsRaw)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // iterative graph queries reliably checkpoint per-round state; clean
    // each query's checkpoint files once its RDDs are GC'd so a 300-query
    // run doesn't accrete them in tmp
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    "spark.ui.enabled" -> "false",
  )

  /** The JVM's `local[cores]` session; a later call returns the same one. */
  def local(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
    val spark = Settings.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
