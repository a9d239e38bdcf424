package graft

/** Dev tool: run a registry key through [[Metrics.measure]] and print
  * where its time went: per trial, wall and the build / Catalyst / gap /
  * task split; for the last trial, the per-stage table (task count,
  * summed task ms, GC ms, input and shuffle bytes, stage name). Usage:
  *   runMain graft.Profile <queryName> [sfDir] [trials]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val trials = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", GraftSession.DefaultCpus)
    val spark = GraftSession.build(cpus)
    val metrics = Metrics.attach(spark)
    val fn = SparkEntry.queries(name)
    for (i <- 1 to trials) {
      val r = metrics.measure(fn(spark, sfDir))
      r.failure.foreach(throw _)
      println(f"[profile] $name run$i: ${r.wallS}%.2f s, build_ms ${r.buildMs}, " +
        s"catalyst_ms ${r.catalystMs}, gap_ms ${r.gapMs}, task_ms ${r.taskMs}, " +
        s"driver_ms ${r.driverMs}, jobs ${r.jobs}, tasks ${r.tasks}")
      if (i == trials) {
        println(f"${"stageId"}%8s ${"tasks"}%6s ${"task_ms"}%8s ${"gc_ms"}%7s " +
          f"${"in_mb"}%7s ${"recs"}%9s ${"sr_mb"}%6s ${"sw_mb"}%6s  name")
        for (s <- r.stages.sortBy(-_.taskMs).take(40))
          println(f"${s.id}%8d ${s.tasks}%6d ${s.taskMs}%8d ${s.gcMs}%7d " +
            f"${s.inBytes / 1e6}%7.1f ${s.inRecords}%9d " +
            f"${s.shuffleReadBytes / 1e6}%6.1f ${s.shuffleWriteBytes / 1e6}%6.1f  ${s.name}")
      }
    }
    spark.stop()
  }
}
