package graft

/** Dev tool: time a query (twice — cold/warm, each a [[Metrics.measure]]
  * window) and dump its physical plan.
  * Usage: runMain graft.Explain <queryName> [sfDir] [explain|noexplain]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.length <= 2 || args(2) != "noexplain"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", GraftSession.DefaultCpus)
    val spark = GraftSession.build(cpus)
    val metrics = Metrics.attach(spark)
    val fn = SparkEntry.queries(name)
    if (doExplain) fn(spark, sfDir).explain("formatted")
    for (i <- 1 to 2) {
      val r = metrics.measure(fn(spark, sfDir))
      r.failure.foreach(throw _)
      println(f"[explain] $name run$i: ${r.wallS}%.2f s (build ${r.buildMs} ms, " +
        s"${r.jobs} jobs, ${r.tasks} tasks)")
    }
    spark.stop()
  }
}
