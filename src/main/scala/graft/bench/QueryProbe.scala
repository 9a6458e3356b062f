package graft.bench

import org.apache.spark.sql.SparkSession

/** Diagnostic main: time registered queries in a fresh JVM.
  * Usage: runMain graft.bench.QueryProbe <name[,name...]> [sfDir] [reps]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        // full-evaluation noop sink: the bench's measurement unit
        // (VERDICT r5 #1)
        graft.SparkEntry.queries(name)(s, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"[queryprobe] $name rep$i sec=${(System.nanoTime() - t0) / 1e9}%.2f")
        // same between-rep scratch-block release as Bench.runQueries:
        // localCheckpoint blocks are otherwise GC-deferred and would
        // accumulate across reps, skewing the later ones
        s.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    s.stop()
  }
}
