package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run of one workload in a fresh JVM. run.py launches
  * it, and turns the raw record it writes (`--out`) into metrics.
  *
  *   --workload crawl_rounds|query_sweep
  *   --seed N          picks the input slice (crawl window, query order)
  *   --seconds S       length of the measured phase
  *   --trace 0|1       1: record spans and Spark jobs on alternate passes
  *   --cores K         local[K], and K shuffle partitions
  *   --work DIR        scratch space (snapshot logs, Spark local dirs)
  *   --data DIR        the query tables (query_sweep)
  *   --goldens FILE    per-query goldens (query_sweep)
  *   --record-goldens  write the goldens instead of checking them
  *   --tiny            a few days of crawl input (the benchmark's tests)
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String, data: String, goldens: String,
                        recordGoldens: Boolean, tiny: Boolean, out: String)

  def parse(args: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    val flags = mutable.Set.empty[String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "record-goldens" || k == "tiny") { flags += k; i += 1 }
      else { kv(k) = args(i + 1); i += 2 }
    }
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("cores").toInt, kv("work"), kv.getOrElse("data", ""), kv.getOrElse("goldens", ""),
      flags("record-goldens"), flags("tiny"), kv("out"))
  }

  /** A named output check and whether it held. */
  final case class Check(name: String, ok: Boolean, detail: String = "")

  def checksJson(cs: Seq[Check]): Seq[Map[String, Any]] =
    cs.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.default.parallelism", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Garbage-collection time of this JVM so far, in seconds. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a.cores, a.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val result: Map[String, Any] = a.workload match {
      case "crawl_rounds" => new Crawl(a).run(spark)
      case "query_sweep" => new Sweep(a).run(spark)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = result ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores, "trace" -> a.trace,
      "session_s" -> sessionS,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "peak_rss_mb" -> peakRssMb)
    spark.stop()
    Files.writeString(Paths.get(a.out), Json.write(out))
  }
}
