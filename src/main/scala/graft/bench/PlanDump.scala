package graft.bench

import org.apache.spark.sql.SparkSession

/** Diagnostic main: write `.explain("formatted")` output for the
  * named queries (default: all registered) to a directory — the
  * optimization rounds' before/after plan evidence
  * (plans/rNN/<query>_<tag>.txt).
  *
  * Usage: runMain graft.bench.PlanDump <outDir> <tag> [name[,name...]]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names =
      if (args.length > 2) args(2).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      // crawl_replay RUNS the whole multi-round loop on construction;
      // dump the final-report plan shape only (per-round layer timings
      // come from perfbench's traced run: `crawl_rounds --trace 1`).
      val txt =
        try {
          val df = graft.SparkEntry.queries(name)(s, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case e: Throwable => s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    s.stop()
  }
}
