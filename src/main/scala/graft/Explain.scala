package graft

/** Dev tool: print the formatted physical plan for the named queries
  * (default: all). Usage: runMain graft.Explain <sfDir> [name ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val queries = SparkEntry.select(args.drop(1))
    val spark = Sessions.local("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    queries.foreach { q =>
      println(s"\n================ ${q.name} ================")
      q.plan(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
