package graft

/** Plan-audit helper: prints the formatted physical plan of one query (or
  * all) so broadcast/shuffle/pushdown decisions are reviewable per round.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val only = if (args.length > 1) Some(args(1)) else None
    val spark = Session(4)
    val names = only.map(Seq(_)).getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
