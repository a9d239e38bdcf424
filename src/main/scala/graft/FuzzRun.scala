package graft
import java.nio.file.{Files, Paths}

/** Spark half of the seeded differential SQL fuzz gate:
  * tools/fuzz.py deterministically generates shared-text ANSI
  * SELECTs over the 10-table schema, this main executes every .sql
  * file under sqlDir through spark.sql over temp views of the shared
  * parquet tables and dumps one parquet dir per query; fuzz.py then
  * runs the SAME texts in DuckDB and multiset-compares. Queries nobody
  * hand-wrote are the correctness frontier the hand-written oracle
  * suite cannot reach.
  *
  * A query that throws is recorded in errors.txt (name TAB first
  * message line) instead of failing the run — the python side
  * classifies engine errors separately from mismatches. */
object FuzzRun {
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, sqlDir) = (args(0), args(1), args(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", GraftSession.DefaultCpus)
    val spark = GraftSession.build(cpus)
    tables.foreach(n =>
      spark.read.parquet(s"$sfDir/$n.parquet").createOrReplaceTempView(n))
    // events joins the fuzz surface through its PORTABLE projection:
    // ts_us (bigint epoch-µs, derived identically in both engines —
    // Tables.duckTsUs on the python side) instead of the physical ts,
    // whose encoding has shipped as both int64-nanos and µs; props is
    // dropped (its quotes fight the generator's literal quoting).
    Tables.events(spark, sfDir)
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .createOrReplaceTempView("events")
    new java.io.File(outDir).mkdirs()
    val errors = new StringBuilder
    val files = new java.io.File(sqlDir).listFiles()
      .filter(_.getName.endsWith(".sql")).sortBy(_.getName)
    files.foreach { f =>
      val name = f.getName.stripSuffix(".sql")
      val sql = Files.readString(f.toPath)
      try spark.sql(sql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.next()
        errors.append(s"$name\t$msg\n")
      }
    }
    Files.writeString(Paths.get(s"$outDir/errors.txt"), errors.toString)
    System.err.println(s"[fuzz] ran ${files.length} queries, " +
      s"${errors.toString.linesIterator.length} spark errors")
    spark.stop()
  }
}
