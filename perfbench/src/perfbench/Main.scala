package perfbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (`perfbench/run.py` builds and launches it).
  * Arguments are `key=value` pairs; the run writes one JSON result file
  * that run.py checks and turns into metrics.
  *
  * Keys: workload, seed, seconds, trace (0|1), work (working directory inside
  * the checkout), cpus, out (result file), plus the workload's own keys
  * (see [[Ingest]] and [[Suite]]). Workload `tables` writes the registry's
  * tables at `sf` into `tables` for query_suite. */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cpus = conf("cpus").toInt
    val work = conf("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis()
    val result =
      try conf("workload") match {
        case "ingest_cold" | "ingest_rerun" => Ingest.run(spark, conf)
        case "query_suite" => Suite.run(spark, conf)
        case "tables" =>
          graft.GenData.write(spark, conf("tables"), conf("sf").toDouble)
          Map.empty[String, Any]
        case other => sys.error(s"unknown workload '$other'")
      } finally spark.stop()
    val w = new java.io.PrintWriter(conf("out"), "UTF-8")
    try w.print(Json.write(result + ("session_ready_epoch_ms" -> sessionReady)))
    finally w.close()
  }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the result and span files (maps, sequences,
  * strings, numbers, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' || (c >= 0xd800 && c <= 0xdfff) => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
