package graft

/** Dev tool: time a query (twice — cold/warm) and dump its physical plan.
  * Usage: runMain graft.Explain <queryName> [sfDir] [explain|noexplain]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.length <= 2 || args(2) != "noexplain"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)
    val fn = SparkEntry.queries(name)
    if (doExplain) fn(spark, sfDir).explain("formatted")
    for (i <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[explain] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
    }
    spark.stop()
  }
}
