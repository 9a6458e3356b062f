package perfbench

import graft.SparkEntry
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** query_sweep: the SparkEntry queries of graft.queries, graft.ops and
  * graft.Tables, in an order the seed permutes, each evaluated in full
  * into Spark's noop sink. Left out are crawl_replay and the queries
  * whose operator is a crawl-module call (CrawlJob, SeenFilter,
  * Scheduler, Validate, Extract.extractLongRows, Report): crawl_rounds
  * times those calls itself, and without them this workload does no
  * crawl-module work, so it is the bypass workload for crawl changes.
  */
object Sweep {
  val Excluded = Set("crawl_replay", "crawl_dense_rescale", "crawl_politeness_plan",
    "crawl_politeness_salted", "crawl_postprocess", "crawl_seen_firstwins", "crawl_validate",
    "crawl_wide_report", "extract_long_rows")

  def names: Seq[String] = SparkEntry.queries.keys.filterNot(Excluded).toSeq.sorted

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(names)

  /** Canonical text of one value. Floating-point values keep nine
    * significant digits, so a different summation order across
    * partitions does not change the digest.
    */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite || d == 0.0) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros
        .toString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  /** Row count, schema, and an order-independent digest: the wrapping
    * sum of each row's 64-bit MD5 prefix.
    */
  def digest(df: DataFrame): (Long, String, String) = {
    val rows = df.collect()
    var sum = 0L
    rows.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(canon(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(md, 0, 8).getLong
    }
    (rows.length.toLong, df.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}")
      .mkString(","), java.lang.Long.toHexString(sum))
  }

  /** The goldens file: one line per query, `name<TAB>rows<TAB>schema<TAB>digest`. */
  def readGoldens(path: String): Map[String, (Long, String, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(n, rows, schema, h) = l.split("\t", -1)
      n -> (rows.toLong, schema, h)
    }.toMap
}

final class Sweep(a: Main.Args) {
  import Sweep._
  import Main.{Check, checksJson}

  def run(spark: SparkSession): Map[String, Any] = {
    val queries = SparkEntry.queries
    val ord = order(a.seed)
    val checks = mutable.ArrayBuffer.empty[Check]

    // Untimed warm-up sweep that also checks each query's result.
    val w0 = System.nanoTime()
    val digests = ord.map(n => n -> digest(queries(n)(spark, a.data))).toMap
    val warmupS = (System.nanoTime() - w0) / 1e9
    if (a.recordGoldens) {
      Files.writeString(Paths.get(a.goldens), names.map { n =>
        val (r, s, h) = digests(n); s"$n\t$r\t$s\t$h\n"
      }.mkString)
    }
    val goldens = readGoldens(a.goldens)
    checks += Check("goldens_cover_sweep", goldens.keySet == names.toSet,
      s"goldens=${goldens.size} sweep=${names.size}")
    names.foreach { n =>
      val want = goldens.get(n)
      checks += Check(s"golden:$n", want.contains(digests(n)),
        s"got=${digests(n)} want=${want.orNull}")
    }

    val tracer = new Tracer
    val sweeps = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0L
    var failed = 0L
    val gc0 = Main.gcSeconds
    val t0 = System.nanoTime()
    // Sweeps run while the next one is expected to end within --seconds,
    // and at least one; when traced, one traced and one untraced.
    val minSweeps = if (a.trace) 2 else 1
    var lastWall = 0.0
    while (sweeps.size < minSweeps || (System.nanoTime() - t0) / 1e9 + lastWall <= a.seconds) {
      val traced = a.trace && sweeps.size % 2 == 0
      tracer.on = traced
      tracer.run = sweeps.size
      val rec = if (traced) Some(new JobRecorder) else None
      rec.foreach(spark.sparkContext.addSparkListener)
      val s0 = System.nanoTime()
      val times = ord.map { n =>
        attempted += 1
        val q0 = System.nanoTime()
        try tracer(s"query.$n")(
          queries(n)(spark, a.data).write.format("noop").mode("overwrite").save())
        catch {
          case e: Throwable =>
            failed += 1
            checks += Check(s"ran:$n", ok = false, e.toString)
        }
        n -> (System.nanoTime() - q0) / 1e9
      }
      val wall = (System.nanoTime() - s0) / 1e9
      lastWall = wall
      rec.foreach { r => BusDrain(spark.sparkContext); spark.sparkContext.removeSparkListener(r) }
      tracer.on = false
      sweeps += Map("traced" -> traced, "wall_s" -> wall, "queries" -> times.toMap,
        "jobs" -> rec.map(_.toJson).orNull)
    }
    Map(
      "data" -> a.data,
      "order" -> ord,
      "warmup_s" -> warmupS,
      "measured_s" -> (System.nanoTime() - t0) / 1e9,
      "gc_measured_s" -> (Main.gcSeconds - gc0),
      "sweeps" -> sweeps.toSeq,
      "spans" -> tracer.toJson,
      "checks" -> checksJson(checks.toSeq),
      "attempted" -> attempted,
      "failed" -> failed)
  }
}
