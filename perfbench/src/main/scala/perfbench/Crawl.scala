package perfbench

import graft.crawl.{CrawlJob, CrawlOracle, FixtureNet, Validate}
import graft.extract.Extract
import graft.model.{DocTask, ListingTask, Seed, Span}
import graft.report.Report
import graft.sched.Scheduler
import graft.seen.SeenFilter
import graft.snapshot.SnapshotLog
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The crawl_rounds workload. A pass is what CrawlJob.run does — a seed
  * commit, then one CrawlJob.runRound call per round with the snapshot
  * re-read in between, until the frontier is exhausted — driven here
  * through the public calls so each one can be timed, followed by stage
  * 2 over the committed result (finalReport, extractLongRows, widen).
  */
object Crawl {
  /** Rounds are budget-bound (≤ 256 fetches each, the reference-parity
    * politeness budget of the default Config) and driver-bound: the
    * small-batch knobs are those of the crawl_replay query.
    */
  def config(cores: Int): CrawlJob.Config = CrawlJob.Config(
    roundShufflePartitions = cores, roundWholeStageCodegen = false, roundAdaptive = false)

  /** A 14-day window (5 exchanges × 14 days × 2 categories = 140 listing
    * streams) crawls in 6 rounds for nine seeds in ten: the round count
    * is set by the deepest listing stream, not by the fetch budget, so
    * pass walls compare across seeds.
    */
  def windowDays(tiny: Boolean): Int = if (tiny) 2 else 14
  val FirstDayLo = 19000
  val FirstDaySpan = 1000

  def window(seed: Long, days: Int): (Int, Int) = {
    val start = FirstDayLo + java.lang.Math.floorMod(
      graft.gen.Fixtures.splitmix64(seed), FirstDaySpan.toLong).toInt
    (start, start + days - 1)
  }

  final case class RoundRec(round: Int, seconds: Double, readS: Double,
                            totals: CrawlJob.Totals, files: Long, bytes: Long)
}

final class Crawl(a: Main.Args) {
  import Crawl._
  import Main.{Check, checksJson}

  private val cfg = config(a.cores)
  private val (firstDay, lastDay) = window(a.seed, windowDays(a.tiny))
  private val seeds: Seq[Seed] = CrawlJob.expandSeeds(firstDay, lastDay)
  private val tracer = new Tracer
  private val checks = mutable.ArrayBuffer.empty[Check]
  private var passNo = 0
  private var attempted = 0L
  private var failed = 0L

  private def root(): String = {
    passNo += 1
    s"${a.work}/log-$passNo"
  }

  /** Files and bytes under `dir` that were not there before. */
  private def newFiles(dir: Path, known: mutable.Set[Path]): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    scala.util.Using.resource(Files.walk(dir)) { st =>
      st.iterator().asScala.filter(p => Files.isRegularFile(p) && known.add(p)).foreach { p =>
        files += 1
        bytes += Files.size(p)
      }
    }
    (files, bytes)
  }

  /** One crawl to exhaustion, then stage 2. */
  private def pass(spark: SparkSession, dir: String): Map[String, Any] = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val log = new SnapshotLog(dir)
    log.init()
    val known = mutable.Set.empty[Path]
    var snap = tracer("snapshot.seed_commit")(log.commit(
      deltas = Map.empty,
      replaced = Map(
        CrawlJob.ListingTable -> CrawlJob.seedListing(seeds).toDS().toDF(),
        CrawlJob.DocsFrontierTable -> spark.emptyDataset[DocTask].toDF()),
      props = Map("round" -> "-1", "done" -> "false")))
    if (tracer.on) newFiles(Paths.get(dir), known)
    val rounds = mutable.ArrayBuffer.empty[RoundRec]
    var round = 0
    var done = false
    var carry = CrawlJob.Carry()
    while (!done && round < cfg.maxRounds) {
      attempted += 1
      val r0 = System.nanoTime()
      val r = tracer("crawl.round")(
        CrawlJob.runRound(spark, cfg, log, snap, round, FixtureNet, carry))
      val r1 = System.nanoTime()
      snap = tracer("snapshot.read")(log.read(r.snapshotId))
      val r2 = System.nanoTime()
      val (files, bytes) = if (tracer.on) newFiles(Paths.get(dir), known) else (0L, 0L)
      rounds += RoundRec(round, (r1 - r0) / 1e9, (r2 - r1) / 1e9, r.totals, files, bytes)
      done = snap.props("done") == "true"
      carry = r.nextCarry
      round += 1
    }
    val crawlWall = (System.nanoTime() - t0) / 1e9
    val s2 = runStage2(spark, log, snap)
    val wall = (System.nanoTime() - t0) / 1e9
    Map("dir" -> dir, "wall_s" -> wall, "crawl_s" -> crawlWall,
      "rounds" -> rounds.toSeq, "stage2" -> s2, "long_rows" -> s2("long_rows"))
  }

  private def runStage2(spark: SparkSession, log: SnapshotLog,
                        snap: SnapshotLog.Snapshot): Map[String, Any] = {
    attempted += 3
    val report = tracer("report.final_report")(
      CrawlJob.finalReport(spark, log, cfg).collect())
    val docs = tracer("snapshot.read_table")(log.readTable(spark, snap, CrawlJob.DocsTable).get)
    val long = Extract.extractLongRows(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val longRows = tracer("extract.extract_long_rows")(long.count())
    // widen's input is the long-row shape of the reference's stage 2:
    // rows ordered by their span offset, each one a found data resource
    val wide = tracer("report.widen")(Report.widen(
      long.withColumn("seq", col("offset")).withColumn("has_flag", lit(true))).collect())
    long.unpersist()
    Map("report" -> report.toSeq, "long_rows" -> longRows,
      "wide_ids" -> wide.map(_.getString(0)).toSeq)
  }

  private def oracleReport(o: CrawlOracle.Result): Set[(String, String, String, Int, String)] =
    CrawlOracle.finalReport(o.results).toSet

  /** Checks that cost nothing beyond what the pass already holds. */
  private def passChecks(p: Map[String, Any], o: CrawlOracle.Result,
                         longRows0: Long): Seq[Check] = {
    val rounds = p("rounds").asInstanceOf[Seq[RoundRec]]
    val totalsOk = rounds.size == o.rounds.size &&
      rounds.zip(o.rounds).forall { case (j, t) => j.totals == t.totals }
    val s2 = p("stage2").asInstanceOf[Map[String, Any]]
    val got = s2("report").asInstanceOf[Seq[Row]].map { r =>
      (r.getString(0), r.getString(1), r.getString(2),
        r.getDate(3).toLocalDate.toEpochDay.toInt, r.getString(4))
    }
    val longRows = s2("long_rows").asInstanceOf[Long]
    val wideIds = s2("wide_ids").asInstanceOf[Seq[String]]
    Seq(
      Check("round_totals_equal_oracle", totalsOk,
        s"rounds job=${rounds.size} oracle=${o.rounds.size}"),
      Check("final_report_equals_oracle", got.size == got.toSet.size &&
        got.toSet == oracleReport(o), s"rows=${got.size}"),
      // widen has one row per document with an extracted row: a subset of
      // the fetched documents, never more than the long rows
      Check("stage2_rows_reconcile_with_fetched_docs", wideIds.size == wideIds.toSet.size &&
        wideIds.toSet.subsetOf(o.fetchedDocs.keySet) && wideIds.nonEmpty &&
        longRows >= wideIds.size && longRows == longRows0,
        s"long=$longRows wide=${wideIds.size} fetched=${o.fetchedDocs.size} " +
          s"warmup_long=$longRows0"))
  }

  /** The full comparison with the collections oracle, read back from
    * the committed snapshot: per-round fetched-URL sets, the final seen
    * set, per-doc span sequences and the lineage counters.
    */
  private def snapshotChecks(spark: SparkSession, p: Map[String, Any],
                             o: CrawlOracle.Result): Seq[Check] = {
    val log = new SnapshotLog(p("dir").asInstanceOf[String])
    val snap = log.latest().get
    val docs = log.readTable(spark, snap, CrawlJob.DocsTable).get
      .select("doc_id", "fetch_round", "spans").collect()
    val byRound = docs.groupBy(_.getInt(1)).view.mapValues(_.map(_.getString(0)).toSet).toMap
    val batchesOk = o.rounds.forall(t => byRound.getOrElse(t.round, Set.empty) == t.fetchedUrls) &&
      byRound.keySet.subsetOf(o.rounds.map(_.round).toSet)
    val spans: Map[String, Seq[Span]] = docs.map { r =>
      r.getString(0) -> r.getSeq[Row](2).map(s =>
        Span(s.getString(0), s.getString(1), s.getString(2), s.getInt(3)))
    }.toMap
    val spansOk = docs.length == spans.size && spans.keySet == o.fetchedDocs.keySet &&
      spans.forall { case (id, ss) => ss == o.fetchedDocs(id).spans }
    val seen = log.readTable(spark, snap, CrawlJob.SeenTable).get
      .select("seen_key").collect().map(_.getString(0))
    val seenOk = seen.length == seen.toSet.size && seen.toSet == o.seen
    val m = log.readTable(spark, snap, CrawlJob.MetricsTable).get
      .groupBy("counter").sum("n").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    val t = o.rounds.map(_.totals)
    val lineageOk = m("urls_seen") == t.map(_.urlsSeen).sum &&
      m("filtered") == t.map(_.filtered).sum && m("fetched") == t.map(_.fetched).sum &&
      m("invalid") == t.map(_.invalid).sum && m("robots_denied") == t.map(_.robotsDenied).sum &&
      m("deferred") == t.map(_.deferred).sum && m("new_unique") == t.map(_.newUnique).sum
    Seq(
      Check("fetch_batches_equal_oracle", batchesOk, s"docs=${docs.length}"),
      Check("seen_set_equals_oracle", seenOk, s"seen=${seen.length}"),
      Check("doc_spans_equal_oracle", spansOk, s"docs=${spans.size}"),
      Check("lineage_counters_equal_oracle", lineageOk, m.toSeq.sorted.take(8).mkString(";")))
  }

  /** Rebuilds one committed round's inputs from its parent snapshot and
    * FixtureNet, then times the seen, sched and fetch layers one by one
    * through their public calls, each materialized to a noop sink. The
    * round loop runs these layers inside one CrawlJob action, so their
    * cost cannot be separated from outside otherwise.
    */
  private def isolatedLayers(spark: SparkSession, dir: String,
                             rounds: Seq[RoundRec]): Map[String, Any] = {
    import spark.implicits._
    val later = rounds.filter(_.round >= 1)
    val pick = (if (later.nonEmpty) later else rounds).maxBy(_.totals.urlsSeen)
    val log = new SnapshotLog(dir)
    val prev = log.read(pick.round.toLong) // the snapshot round `pick` started from
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = tracer(name)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val kept = log.readTable(spark, prev, CrawlJob.ListingTable).get.as[ListingTask]
      .flatMap { t =>
        FixtureNet.announcementsFor(t).map { x =>
          (t.exchangeRank, t.epochDay, t.category, x.secCode, x.secName, x.title,
            x.timeMs, x.timeStr, x.adjunctUrl, x.arrivalSeq, t.page)
        }
      }.toDF("exchange_rank", "epoch_day", "category", "sec_code_raw", "company",
        "title", "time_ms", "time_str", "adjunct_url", "arrival_seq", "page_depth")
      .where(Report.titleFilter(cfg.targetYears)(col("title")) &&
        !col("title").contains("摘要") && !col("title").contains("英文版"))
      .select(col("*"),
        concat(lit(FixtureNet.urlBase), col("adjunct_url")).as("url"),
        concat_ws("\u0001", col("sec_code_raw"), col("title"), col("time_ms"),
          col("time_str"), col("adjunct_url")).as("seen_key"))
      .drop("adjunct_url")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (_, inputsS) = timed("isolated.inputs")(noop(kept))

    // crawl_rounds' sketch state stays far below sketchBroadcastMaxBytes,
    // so the round probes with the collected sketch map (its resume path)
    val params = SeenFilter.BloomParams(cfg.bloomBits, cfg.bloomHashes)
    val sketchPrev = log.readTable(spark, prev, CrawlJob.SketchTable)
    val seenPrev = log.readTable(spark, prev, CrawlJob.SeenTable)
    val ((probed, confirmed, newUnique), seenS) = timed("isolated.seen") {
      val first = SeenFilter.firstWinsAgg(kept, Seq("seen_key"), "arrival_seq")
      val probed = sketchPrev.map(sk => SeenFilter.probeBloom(first, "seen_key", cfg.bloomP,
          params, SeenFilter.collectSketches(SeenFilter.mergeSketches(sk))))
        .getOrElse(first.withColumn("might_be_seen", lit(false)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val possibleDup = probed.where(col("might_be_seen")).drop("might_be_seen")
      val confirmed = seenPrev
        .map(s => possibleDup.join(s.select("seen_key"), Seq("seen_key"), "left_anti"))
        .getOrElse(possibleDup)
      val newUnique = probed.where(!col("might_be_seen")).drop("might_be_seen")
        .unionByName(confirmed).persist(StorageLevel.MEMORY_AND_DISK)
      noop(newUnique)
      (probed, confirmed, newUnique)
    }
    val possibleDupN = probed.where(col("might_be_seen")).count()
    val confirmedN = confirmed.count()
    val newUniqueN = newUnique.count()

    val newTasks = newUnique.select(col("url"), lit(FixtureNet.host).as("host"),
      col("epoch_day").as("announceEpochDay"), col("sec_code_raw").as("secCode"),
      col("page_depth").as("pageDepth"), col("seen_key").as("seenKey"),
      col("arrival_seq").as("arrivalSeq"), col("company"), col("title"),
      col("time_ms").as("timeMs"), col("time_str").as("timeStr"))
    val allTasks =
      if (prev.props.get("deferred").contains("0")) newTasks
      else log.readTable(spark, prev, CrawlJob.DocsFrontierTable)
        .map(d => newTasks.unionByName(d.select(newTasks.columns.map(col).toIndexedSeq: _*)))
        .getOrElse(newTasks)
    val (assigned, schedS) = timed("isolated.sched") {
      val gated = Scheduler.robotsGate(allTasks,
        FixtureNet.robotsRules.toDF("host", "path_prefix", "allow"))
      val schedIn = gated.where(!col("robots_denied")).drop("robots_denied")
        .select(col("*"), col("announceEpochDay").cast("long").as("priority"),
          concat_ws("|", col("secCode"), lpad(col("pageDepth").cast("string"), 6, "0"),
            col("seenKey")).as("tiebreak"))
      val assigned = Scheduler.assignVirtualTicksCols(schedIn, cfg.saltCount,
        cfg.tokensPerTick, cfg.tickMs).persist(StorageLevel.MEMORY_AND_DISK)
      noop(assigned)
      assigned
    }
    val deferredN = assigned.where(col("tick_index") >= cfg.ticksPerRound).count()

    val (fetchedDocs, fetchS) = timed("isolated.fetch") {
      val status = udf(FixtureNet.fetchStatus _)
      val ct = udf(FixtureNet.fetchContentType _)
      val magic = udf(FixtureNet.fetchMagic _)
      val docs = assigned.where(col("tick_index") < cfg.ticksPerRound)
        .select(col("url"), status(col("url")).as("status"),
          ct(col("url")).as("content_type"), magic(col("url")).as("magic"))
        .where(Validate.isValid(col("status"), col("content_type"), col("magic")))
        .select("url").as[String]
        .map { url => val d = FixtureNet.docFor(url); (d.doc_id, d.spans) }
        .toDF("doc_id", "spans").persist(StorageLevel.MEMORY_AND_DISK)
      noop(docs)
      docs
    }
    val fetchedN = fetchedDocs.count()
    checks += Check("isolated_round_matches_committed_round",
      newUniqueN == pick.totals.newUnique && fetchedN == pick.totals.fetched &&
        deferredN == pick.totals.deferred,
      s"round=${pick.round} new=$newUniqueN/${pick.totals.newUnique} " +
        s"fetched=$fetchedN/${pick.totals.fetched} deferred=$deferredN/${pick.totals.deferred}")
    Seq(kept, probed, newUnique, assigned, fetchedDocs).foreach(_.unpersist())
    Map("round" -> pick.round, "inputs_s" -> inputsS, "seen_s" -> seenS,
      "sched_s" -> schedS, "fetch_s" -> fetchS, "possible_dup" -> possibleDupN,
      "confirmed_new" -> confirmedN)
  }

  private def passJson(p: Map[String, Any], traced: Boolean,
                       jobs: Option[Map[String, Any]]): Map[String, Any] = {
    val rounds = p("rounds").asInstanceOf[Seq[RoundRec]].map { r =>
      Map("round" -> r.round, "s" -> r.seconds, "read_s" -> r.readS,
        "urls_seen" -> r.totals.urlsSeen, "new_unique" -> r.totals.newUnique,
        "fetched" -> r.totals.fetched, "invalid" -> r.totals.invalid,
        "deferred" -> r.totals.deferred, "robots_denied" -> r.totals.robotsDenied,
        "files" -> r.files, "bytes" -> r.bytes)
    }
    Map("traced" -> traced, "wall_s" -> p("wall_s"), "crawl_s" -> p("crawl_s"),
      "rounds" -> rounds, "long_rows" -> p("long_rows"),
      "jobs" -> jobs.orNull)
  }

  def run(spark: SparkSession): Map[String, Any] = {
    val oracle = CrawlOracle.run(seeds, cfg)
    // Untimed warm-up pass, the same crawl as the measured ones; its time
    // is part of set-up. On a 4-vCPU box a two-round warm-up left the
    // first measured pass about a quarter slower than the second.
    val w0 = System.nanoTime()
    val warm = pass(spark, root())
    val warmupS = (System.nanoTime() - w0) / 1e9
    val longRows0 = warm("long_rows").asInstanceOf[Long]
    checks ++= passChecks(warm, oracle, longRows0).map(c => c.copy(name = "warmup:" + c.name))
    attempted = 0

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var last: Map[String, Any] = null
    var lastWall = 0.0
    val gc0 = Main.gcSeconds
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // Passes run while the next one is expected to end within --seconds,
    // and at least one; when traced, one traced and one untraced.
    while (passes.isEmpty || elapsed + lastWall <= a.seconds || (a.trace && passes.size < 2)) {
      val traced = a.trace && passes.size % 2 == 0
      tracer.on = traced
      tracer.run = passes.size
      val rec = if (traced) Some(new JobRecorder) else None
      rec.foreach(spark.sparkContext.addSparkListener)
      val p = try pass(spark, root()) catch {
        case e: Throwable =>
          failed += 1
          checks += Check("pass_completed", ok = false, e.toString)
          null
      }
      rec.foreach { r => BusDrain(spark.sparkContext); spark.sparkContext.removeSparkListener(r) }
      tracer.on = false
      if (p == null) return result(passes.toSeq, warmupS, gc0, Map.empty)
      checks ++= passChecks(p, oracle, longRows0)
      passes += passJson(p, traced, rec.map(_.toJson))
      last = p
      lastWall = p("wall_s").asInstanceOf[Double]
    }
    val measuredS = elapsed
    checks ++= snapshotChecks(spark, last, oracle)
    val isolated =
      if (!a.trace) Map.empty[String, Any]
      else {
        val rec = new JobRecorder
        tracer.on = true
        tracer.run = -1
        spark.sparkContext.addSparkListener(rec)
        val iso = isolatedLayers(spark, last("dir").asInstanceOf[String],
          last("rounds").asInstanceOf[Seq[RoundRec]])
        BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(rec)
        tracer.on = false
        iso + ("jobs" -> rec.toJson)
      }
    result(passes.toSeq, warmupS, gc0, isolated) + ("measured_s" -> measuredS)
  }

  private def result(passes: Seq[Map[String, Any]], warmupS: Double, gc0: Double,
                     isolated: Map[String, Any]): Map[String, Any] =
    Map(
      "window" -> Seq(firstDay, lastDay),
      "config" -> cfg.toString,
      "warmup_s" -> warmupS,
      "gc_measured_s" -> (Main.gcSeconds - gc0),
      "passes" -> passes,
      "isolated" -> isolated,
      "spans" -> tracer.toJson,
      "checks" -> checksJson(checks.toSeq),
      "attempted" -> attempted,
      "failed" -> failed)
}
