package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (suites run sequentially). */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.build("8", "-test")
  val sf: String = "/root/testdata/sf0.001"

  /** Gate-SF testdata resolution: derived from the same env the bench
    * uses (SPARK_GRAFT_SF_DIR's parent) instead of hardcoded, so specs
    * that pin behavior at a specific scale can skip with a clear
    * message on a machine where that scale is absent. */
  val sfRoot: String = sys.env.get("SPARK_GRAFT_SF_DIR")
    .map(d => new java.io.File(d).getParent)
    .getOrElse("/root/testdata")
  def sfDir(scale: String): Option[String] = {
    val d = s"$sfRoot/sf$scale"
    if (new java.io.File(d).isDirectory) Some(d) else None
  }

  /** A session with the always-on [[graft.plans.TopKRewrite]] excluded
    * through Spark's own `excludedRules`: frames built on it give the
    * window formulation a rewrite is checked against. */
  lazy val withoutTopKRewrite: SparkSession = GraftSession.scoped(spark,
    "spark.sql.optimizer.excludedRules" -> "graft.plans.TopKRewrite")
}
