package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench protocol units (the scaling phase itself is exercised by the
  * per-round driver run — here the testable seams).
  */
class BenchSpec extends SparkSpec {

  test("runQueries: a throwing query lands in `failed`, never in the timings (VERDICT r4 #6)") {
    val good: (SparkSession, String) => DataFrame =
      (s, _) => s.range(5).toDF("n")
    val planTimeBoom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("deliberately broken")
    val runTimeBoom: (SparkSession, String) => DataFrame = (s, _) => {
      import s.implicits._
      s.range(3).map(i => { if (i >= 0) throw new RuntimeException("executor boom"); i }).toDF("n")
    }
    val (times, failed) = Bench.runQueries(spark, "unused",
      Map("ok" -> good, "boom_plan" -> planTimeBoom, "boom_run" -> runTimeBoom))
    assert(failed == Seq("boom_plan", "boom_run"), failed.toString)
    assert(times.keySet == Set("ok"), times.toString)
    assert(times("ok") > 0.0)
  }

  test("TaskCpuListener sums task CPU and run time across stages") {
    val l = new BenchLevel.TaskCpuListener
    spark.sparkContext.addSparkListener(l)
    try {
      import org.apache.spark.sql.functions._
      // a job with a shuffle, so at least two stages complete
      spark.range(1L << 18).groupBy(pmod(col("id"), lit(64))).count()
        .write.format("noop").mode("overwrite").save()
      Thread.sleep(500) // drain the async listener bus
      assert(l.cpuSec > 0.0, s"cpuSec=${l.cpuSec}")
      assert(l.runSec >= l.cpuSec / 64, s"runSec=${l.runSec} cpuSec=${l.cpuSec}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("decompositionJson: identity eff = retire_ratio x slot_util ratio") {
    def stats(wall: Double, cpu: Double) = graft.bench.ReplayBench.PipelineStats(
      100, 50, 40, 10, wall, Map("task_cpu_sec" -> cpu))
    // lo: 2 slots, 26 s wall, 52 CPU (fully busy); hi: 8 slots, 9.378 s
    // wall, 67 CPU — the r7 cpuprobe reading
    val lo = stats(26.005, 52.014)
    val hi = stats(9.378, 67.056)
    val js = Bench.decompositionJson(lo, hi, 2, 8)
    val kv = js.drop(1).split(",").map(_.split(":")).map(a =>
      a(0).replace("\"", "") -> a(1).toDouble).toMap
    val rawEff = (lo.wallSec * 2) / (hi.wallSec * 8)
    val recomposed = kv("cpu_retire_ratio") * kv("slot_util_hi") / kv("slot_util_lo")
    assert(math.abs(recomposed - rawEff) < 0.01, s"$recomposed vs $rawEff")
    assert(kv("slot_util_lo") > 0.95 && kv("slot_util_lo") <= 1.05)
    assert(kv("slot_util_hi") > 0.85 && kv("slot_util_hi") < 0.95)
    // missing task CPU on either side: no decomposition fields
    assert(Bench.decompositionJson(stats(1, 0), hi, 2, 8) == "")
  }

  test("selectRep: min task-CPU wins over min wall; wall tie-breaks; CPU-less reps sort last") {
    def stats(wall: Double, cpu: Option[Double]) = graft.bench.ReplayBench.PipelineStats(
      100, 50, 40, 10, wall, cpu.map(c => Map("task_cpu_sec" -> c)).getOrElse(Map.empty))
    // the r7_close3 shape: the min-WALL hi rep was the burned one
    // (81.5 CPU-s vs ~59 nominal) — min-CPU must deselect it
    val burnedFastWall = stats(9.1, Some(81.5))
    val quietSlowerWall = stats(9.4, Some(59.3))
    assert(Bench.selectRep(Seq(burnedFastWall, quietSlowerWall)) eq quietSlowerWall)
    // equal CPU: wall tie-breaks
    val a = stats(9.4, Some(59.3)); val b = stats(9.2, Some(59.3))
    assert(Bench.selectRep(Seq(a, b)) eq b)
    // a rep without a CPU reading never beats one with it
    val noCpu = stats(8.0, None)
    assert(Bench.selectRep(Seq(noCpu, quietSlowerWall)) eq quietSlowerWall)
    // all without CPU: min wall
    assert(Bench.selectRep(Seq(noCpu, stats(8.5, None))) eq noCpu)
  }

  test("canaryBound: floor-relative, capped at 2x nominal") {
    // quiet box at the calibrated nominal: bound IS the nominal
    assert(Bench.canaryBound(1.44, 1.0) == 1.44)
    // host-incarnation drift (r7: floor 1.52 on a provably-quiet box):
    // the measured floor takes over, so retries can converge
    assert(Bench.canaryBound(1.44, 1.52) == 1.52)
    // a floor taken on a loud box can't blind the gate: capped at 2x
    assert(Bench.canaryBound(1.44, 9.0) == 2.88)
  }

  test("ReplayBench.run: the headline job's counts are consistent and repeat exactly") {
    val Seq(r1, r2) = Seq.fill(2)(graft.bench.ReplayBench.run(spark, 20000))
    assert(r1.fetched > 0, r1.toString)
    assert(r1.fetched <= r1.scheduled && r1.scheduled <= r1.urlsSeen, r1.toString)
    assert(r1.spans >= r1.fetched, r1.toString)
    // Bench reads these two marks (stageSec) into the artifact
    assert(Set("state_setup", "schedule_fetch_extract").subsetOf(r1.stageSec.keySet),
      r1.stageSec.toString)
    assert((r1.urlsSeen, r1.scheduled, r1.fetched, r1.spans) ==
      (r2.urlsSeen, r2.scheduled, r2.fetched, r2.spans))
  }
}
