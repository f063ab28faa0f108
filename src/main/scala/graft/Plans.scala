package graft

/** Dev tool: dump the formatted physical plan of one or every query —
  * `runMain graft.Plans [queryName] [sfDir]`. Used to audit pushdown, join
  * strategies, and shuffle counts after every operator change.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val name = args.headOption
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(4)
    val targets = name match {
      case Some(n) => Seq(n -> SparkEntry.queries(n))
      case None => SparkEntry.queries.toSeq.sortBy(_._1)
    }
    targets.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
