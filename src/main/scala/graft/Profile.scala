package graft

import scala.collection.concurrent.TrieMap

/** Dev tool: run a query and print per-STAGE task-time attribution
  * (stage name from the first RDD's callsite, task count, summed task
  * ms, GC ms, input/shuffle bytes) — the stage-level view the bench's
  * per-query totals cannot give. Usage:
  *   runMain graft.Profile <queryName> [sfDir] [trials]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val trials = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)
    case class St(var n: Int = 0, var taskMs: Long = 0, var gcMs: Long = 0,
        var inB: Long = 0, var srB: Long = 0, var swB: Long = 0,
        var recs: Long = 0)
    val stages = TrieMap.empty[(Int, String), St]
    val names = TrieMap.empty[Int, String]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          names.put(e.stageInfo.stageId,
            e.stageInfo.name.take(100)): Unit
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val key = (t.stageId, names.getOrElse(t.stageId, "?"))
          val s = stages.getOrElseUpdate(key, St())
          s.n += 1
          if (t.taskInfo != null) s.taskMs += t.taskInfo.duration
          if (t.taskMetrics != null) {
            s.gcMs += t.taskMetrics.jvmGCTime
            s.inB += t.taskMetrics.inputMetrics.bytesRead
            s.recs += t.taskMetrics.inputMetrics.recordsRead
            s.srB += t.taskMetrics.shuffleReadMetrics.totalBytesRead
            s.swB += t.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
      })
    val fn = SparkEntry.queries(name)
    for (i <- 1 to trials) {
      stages.clear(); names.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $name run$i: $dt%.2f s, $n rows")
      if (i == trials) {
        val rows = stages.toSeq.sortBy(-_._2.taskMs)
        println(f"${"stageId"}%8s ${"tasks"}%6s ${"task_ms"}%8s ${"gc_ms"}%7s " +
          f"${"in_mb"}%7s ${"recs"}%9s ${"sr_mb"}%6s ${"sw_mb"}%6s  name")
        for (((id, nm), s) <- rows.take(40))
          println(f"$id%8d ${s.n}%6d ${s.taskMs}%8d ${s.gcMs}%7d " +
            f"${s.inB / 1e6}%7.1f ${s.recs}%9d ${s.srB / 1e6}%6.1f " +
            f"${s.swB / 1e6}%6.1f  $nm")
        println(s"[profile] total task_ms: ${rows.map(_._2.taskMs).sum}, " +
          s"stages: ${rows.size}")
      }
    }
    spark.stop()
  }
}
