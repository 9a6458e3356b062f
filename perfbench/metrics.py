"""Metrics of one benchmark run, computed from the raw record the JVM writes.

Pure functions of that record, so they are testable without Spark; see
README.md for the definitions and test_perfbench.py for the tests.
"""
import math
import re
import statistics

# (name, unit, better); the order is the order of the report.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("round_p50_s", "s", "lower"),
]

LAYER_FIXED = [
    ("round_tail_s", "s", "lower"),
    ("urls_per_s", "1/s", "higher"),
    ("crawl.round_driver_s", "s", "lower"),
    ("crawl.jobs_per_round", "count", "lower"),
    ("crawl.stages_per_round", "count", "lower"),
    ("crawl.tasks_per_round", "count", "lower"),
    ("crawl.counter_action_s", "s", "lower"),
    ("snapshot.commit_s", "s", "lower"),
    ("snapshot.bytes_written", "bytes", "lower"),
    ("snapshot.files_written", "count", "lower"),
    ("snapshot.read_s", "s", "lower"),
    ("seen.s", "s", "lower"),
    ("seen.bloom_fp_ratio", "ratio", "lower"),
    ("sched.s", "s", "lower"),
    ("sched.task_skew", "ratio", "lower"),
    ("fetch.s", "s", "lower"),
    ("extract.s", "s", "lower"),
    ("extract.rows_out", "count", "higher"),
    ("report.s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.slot_util", "ratio", "higher"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("trace.overhead", "ratio", "lower"),
]

# The sweep's queries: SparkEntry.queries without those in Sweep.Excluded.
SWEEP_QUERIES = [
    "ann_bruteforce_topk", "ann_ivf_topk", "dedup_clusters", "dedup_embed_cosine",
    "dedup_embed_lsh", "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_simhash_pairs", "mm_frame_sample", "mm_media_meta",
    "pipeline_curate", "priority_topk", "q10_number_ladder", "q11_union_distinct",
    "q12_date_shift", "q13_code_classify", "q14_sentinel_clean", "q15_json_extract",
    "q1_pricing_summary", "q2_region_revenue", "q3_topk_per_group", "q4_anti_join",
    "q5_semi_join", "q6_dedup_keepfirst", "q7_latest_per_key", "q8_pivot_events",
    "q9_first_positive", "seed_expansion", "text_contamination", "text_langid",
    "text_pack_sequences", "text_pii", "text_quality", "text_repetition", "text_tokens",
    "text_winnow_fingerprint",
]

PER_LAYER = LAYER_FIXED + [
    (f"query.{q}.{m}", u, "lower") for q in SWEEP_QUERIES for m, u in (("s", "s"), ("tasks", "count"))
]


# ---- statistics ------------------------------------------------------------

def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def _rank(p, n):
    """1-based nearest rank of whole percentile p among n samples."""
    return max(1, -(-p * n // 100))


def nearest_rank(xs, p):
    """The whole p-th percentile by the nearest-rank rule."""
    s = sorted(xs)
    return s[_rank(p, len(s)) - 1]


def tail_percentile(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above its
    nearest-rank position: (percentile, value, sample count), or None when
    there are not more than `beyond` samples."""
    n = len(xs)
    if n <= beyond:
        return None
    p = 100 * (n - beyond) // n
    return p, nearest_rank(xs, p), n


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"]) for s in spans}


# ---- call site -> layer ----------------------------------------------------

FILE_LAYER = {
    "CrawlJob.scala": "crawl",
    "CrawlNet.scala": "fetch",
    "Validate.scala": "fetch",
    "SeenFilter.scala": "seen",
    "Scheduler.scala": "sched",
    "Extract.scala": "extract",
    "Report.scala": "report",
}
SNAPSHOT_FILES = ("SnapshotLog.scala", "SnapshotTable.scala", "SnapshotSource.scala",
                  "SnapshotCatalog.scala")
SNAPSHOT_READS = ("read", "readTable", "latest", "parse")
QUERY_PACKAGES = ("graft.queries.", "graft.ops.", "graft.Tables", "graft.functions.",
                  "graft.canon.", "graft.gen.")
FRAME = re.compile(r"^(?P<qual>[\w.$]+)\((?P<file>[^:)]+)(?::\d+)?\)$")


def layer_of(frame):
    """The layer of a Spark job, from the first library frame of its call
    site, e.g. 'graft.snapshot.SnapshotLog.writeDir$1(SnapshotLog.scala:153)'.
    'bench' marks the benchmark's own calls (such as the sweep's noop
    write), which belong to the span they run in."""
    m = FRAME.match(frame or "")
    if not m:
        return "other"
    qual, file = m.group("qual"), m.group("file")
    if qual.startswith("perfbench."):
        return "bench"
    if file in SNAPSHOT_FILES:
        # 'writeDir$1', '$anonfun$readTable$2': the named method inside
        names = [t for t in qual.rsplit(".", 1)[-1].split("$") if t and t != "anonfun"]
        return "snapshot.read" if names and names[0] in SNAPSHOT_READS else "snapshot.commit"
    if file in FILE_LAYER:
        return FILE_LAYER[file]
    if qual.startswith(QUERY_PACKAGES):
        return "query"
    return "other"


def is_counter_action(job):
    return layer_of(job["frame"]) == "crawl" and job["site"].startswith("collect at CrawlJob.scala")


# ---- per-run summaries ------------------------------------------------------

def _jobs_in(jobs, lo, hi):
    """Jobs that start within a span; Spark stamps whole milliseconds."""
    out = []
    for j in jobs:
        if math.floor(lo) <= j["start"] <= hi:
            end = j["end"] if j.get("end") is not None else j["start"]
            out.append(dict(j, end=end))
    return out


def exec_totals(recorded, wall_s, cores):
    stages = recorded["stages"]
    return {
        "task_cpu_s": sum(s["cpu_s"] for s in stages),
        "slot_util": sum(s["run_s"] for s in stages) / (wall_s * cores) if wall_s else 0.0,
        "shuffle_write": sum(s["shuffle_write"] for s in stages),
        "shuffle_read": sum(s["shuffle_read"] for s in stages),
        "spill": sum(s["spill"] for s in stages),
    }


def pass_urls_per_s(p):
    """Σ over rounds of (scheduled + fetched) ÷ crawl wall, where scheduled =
    fetched + invalid + deferred."""
    urls = sum(2 * r["fetched"] + r["invalid"] + r["deferred"] for r in p["rounds"])
    return urls / p["crawl_s"]


def round_layers(p, spans):
    """Per-round layer figures of one traced pass. A round's driver time is
    its self time with the Spark jobs it started as its children."""
    jobs = p["jobs"]["jobs"]
    stages = {s["id"]: s for s in p["jobs"]["stages"]}
    rounds = [s for s in spans if s["name"] == "crawl.round"]
    out = []
    for rs, rec in zip(rounds, p["rounds"]):
        lo, hi = rs["start"], rs["end"]
        js = _jobs_in(jobs, lo, hi)
        ran = [sid for j in js for sid in j["stages"] if sid in stages]
        tree = [dict(rs, parent=-1)] + [{"id": ("job", j["id"]), "parent": rs["id"],
                                         "start": j["start"], "end": j["end"]} for j in js]
        out.append({
            "driver_s": self_times(tree)[rs["id"]] / 1e3,
            "jobs": len(js),
            "stages": len(ran),
            "tasks": sum(stages[sid]["tasks"] for sid in ran),
            "counter_s": sum(j["end"] - j["start"] for j in js if is_counter_action(j)) / 1e3,
            "commit_s": union_length([(j["start"], j["end"]) for j in js
                                      if layer_of(j["frame"]) == "snapshot.commit"], lo, hi) / 1e3,
            "read_s": rec["read_s"] + union_length(
                [(j["start"], j["end"]) for j in js if layer_of(j["frame"]) == "snapshot.read"],
                lo, hi) / 1e3,
        })
    return out


def sched_task_skew(isolated, spans):
    """Max ÷ mean task time of the scheduler's shuffle-reading stage in the
    isolated sched call."""
    span = next((s for s in spans if s["name"] == "isolated.sched"), None)
    if span is None or not isolated.get("jobs"):
        return None
    stages = {s["id"]: s for s in isolated["jobs"]["stages"]}
    cands = [stages[sid] for j in _jobs_in(isolated["jobs"]["jobs"], span["start"], span["end"])
             for sid in j["stages"] if sid in stages and stages[sid]["shuffle_read"] > 0]
    if not cands:
        return None
    st = max(cands, key=lambda s: s["tasks"])
    mean = st["task_s"] / st["tasks"] if st["tasks"] else 0
    return st["max_task_s"] / mean if mean > 0 else None


def summarize_crawl(raw, trace):
    cores = raw["cores"]
    passes = raw["passes"]
    plain = [p for p in passes if not p["traced"]]
    round_times = [r["s"] for p in plain for r in p["rounds"]]
    e2e = {
        "wall_s": median(p["wall_s"] for p in plain),
        "round_p50_s": median(round_times),
        "round_tail": tail_percentile(round_times),
        "urls_per_s": median(pass_urls_per_s(p) for p in plain),
        "rounds": len(round_times),
        "passes": len(plain),
    }
    layers = {}
    if trace:
        by_run = {}
        for s in raw["spans"]:
            by_run.setdefault(s["run"], []).append(s)
        traced = [(i, p) for i, p in enumerate(passes) if p["traced"]]
        per_round = [x for i, p in traced for x in round_layers(p, by_run.get(i, []))]
        ex = [exec_totals(p["jobs"], p["wall_s"], cores) for _, p in traced]
        io = [r for _, p in traced for r in p["rounds"]]

        def span_s(i, name):
            return sum(s["end"] - s["start"] for s in by_run.get(i, []) if s["name"] == name) / 1e3

        iso = raw.get("isolated") or {}
        layers = {
            "urls_per_s": e2e["urls_per_s"],
            "crawl.round_driver_s": median(x["driver_s"] for x in per_round),
            "crawl.jobs_per_round": median(x["jobs"] for x in per_round),
            "crawl.stages_per_round": median(x["stages"] for x in per_round),
            "crawl.tasks_per_round": median(x["tasks"] for x in per_round),
            "crawl.counter_action_s": median(x["counter_s"] for x in per_round),
            "snapshot.commit_s": median(x["commit_s"] for x in per_round),
            "snapshot.read_s": median(x["read_s"] for x in per_round),
            "snapshot.bytes_written": median(r["bytes"] for r in io),
            "snapshot.files_written": median(r["files"] for r in io),
            "seen.s": iso.get("seen_s"),
            "seen.bloom_fp_ratio": (iso["confirmed_new"] / iso["possible_dup"]
                                    if iso.get("possible_dup") else 0.0),
            "sched.s": iso.get("sched_s"),
            "sched.task_skew": sched_task_skew(iso, by_run.get(-1, [])),
            "fetch.s": iso.get("fetch_s"),
            "extract.s": median(span_s(i, "extract.extract_long_rows") for i, _ in traced),
            "extract.rows_out": median(p["long_rows"] for p in passes),
            "report.s": median(span_s(i, "report.final_report") + span_s(i, "report.widen")
                               for i, _ in traced),
            "exec.task_cpu_s": median(e["task_cpu_s"] for e in ex),
            "exec.slot_util": median(e["slot_util"] for e in ex),
            "exec.shuffle_write_bytes": median(e["shuffle_write"] for e in ex),
            "exec.shuffle_read_bytes": median(e["shuffle_read"] for e in ex),
            "exec.spill_bytes": median(e["spill"] for e in ex),
            "trace.overhead": _ratio(median(p["wall_s"] for _, p in traced), e2e["wall_s"]),
        }
    return e2e, layers


def summarize_sweep(raw, trace):
    sweeps = raw["sweeps"]
    plain = [s for s in sweeps if not s["traced"]]
    times = [t for s in plain for t in s["queries"].values()]
    e2e = {
        "wall_s": median(s["wall_s"] for s in plain),
        "round_p50_s": median(times),
        "round_tail": tail_percentile(times),
        "rounds": len(times),
        "passes": len(plain),
    }
    layers = {}
    for q in SWEEP_QUERIES:
        layers[f"query.{q}.s"] = median(s["queries"].get(q) for s in plain)
    if trace:
        cores = raw["cores"]
        by_run = {}
        for s in raw["spans"]:
            by_run.setdefault(s["run"], []).append(s)
        traced = [(i, s) for i, s in enumerate(sweeps) if s["traced"]]
        for q in SWEEP_QUERIES:
            counts = []
            for i, sw in traced:
                stages = {st["id"]: st for st in sw["jobs"]["stages"]}
                for sp in by_run.get(i, []):
                    if sp["name"] == f"query.{q}":
                        js = _jobs_in(sw["jobs"]["jobs"], sp["start"], sp["end"])
                        counts.append(sum(stages[sid]["tasks"] for j in js for sid in j["stages"]
                                          if sid in stages))
            layers[f"query.{q}.tasks"] = median(counts)
        ex = [exec_totals(s["jobs"], s["wall_s"], cores) for _, s in traced]
        layers.update({
            "exec.task_cpu_s": median(e["task_cpu_s"] for e in ex),
            "exec.slot_util": median(e["slot_util"] for e in ex),
            "exec.shuffle_write_bytes": median(e["shuffle_write"] for e in ex),
            "exec.shuffle_read_bytes": median(e["shuffle_read"] for e in ex),
            "exec.spill_bytes": median(e["spill"] for e in ex),
            "trace.overhead": _ratio(median(s["wall_s"] for _, s in traced), e2e["wall_s"]),
        })
    return e2e, layers


def all_round_times(raw):
    if raw["workload"] == "query_sweep":
        return [t for s in raw["sweeps"] for t in s["queries"].values()]
    return [r["s"] for p in raw["passes"] for r in p["rounds"]]


def _ratio(a, b):
    return a / b if a is not None and b else None


def summarize(raw, trace):
    """{'e2e': ..., 'layers': ..., 'checks': [...], 'final': the result line}."""
    if raw["workload"] == "query_sweep":
        e2e, layers = summarize_sweep(raw, trace)
    else:
        e2e, layers = summarize_crawl(raw, trace)
    e2e["setup_s"] = raw["session_s"] + raw["warmup_s"]
    if trace:
        # a traced run has too few untraced rounds for the tail: take all
        e2e["round_tail"] = tail_percentile(all_round_times(raw))
    tail = e2e["round_tail"]
    e2e["round_tail_s"] = tail[1] if tail else None
    if trace:
        layers["round_tail_s"] = e2e["round_tail_s"]
        layers["jvm.gc_s"] = raw["gc_measured_s"]
        layers["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    checks = raw["checks"]
    failed = raw["failed"]
    wanted = PER_LAYER if trace else END_TO_END
    source = layers if trace else e2e
    values = {}
    for name, unit, _ in wanted:
        v = source.get(name)
        # a layer the workload does not exercise reads 0
        values[name] = {"value": float(v) if v is not None else 0.0, "unit": unit}
    missing_e2e = [] if trace else [n for n, _, _ in END_TO_END if e2e.get(n) is None]
    correct = all(c["ok"] for c in checks) and failed == 0 and not missing_e2e
    final = {"correct": correct, "attempted": int(raw["attempted"]), "failed": int(failed),
             "metrics": values}
    return {"e2e": e2e, "layers": layers, "checks": checks, "final": final,
            "missing": missing_e2e}


def report_lines(workload, raw, result, env):
    """Human-readable report printed above the result line."""
    out = [f"# perfbench {workload} seed={raw['seed']} trace={int(raw['trace'])}"
           f" measured={raw.get('measured_s', 0):.1f}s"
           + (f" window={raw['window']}" if "window" in raw else "")]
    out += [f"# {k}: {v}" for k, v in env.items()]
    e2e = result["e2e"]
    out.append(f"# samples: {e2e['rounds']} rounds over {e2e['passes']} untraced passes")
    tail = e2e["round_tail"]
    out.append("# round_tail_s is p%d of %d %s rounds" % (
        tail[0], tail[2], "measured" if raw["trace"] else "untraced") if tail
               else "# round_tail_s: too few samples (need more than 10)")
    units = {n: u for n, u, _ in END_TO_END + PER_LAYER}
    for name in [n for n, _, _ in END_TO_END] + ["round_tail_s", "urls_per_s"]:
        v = e2e.get(name)
        if v is not None:
            out.append(f"{name} = {v:.6g} {units[name]}")
    for name, v in result["layers"].items():
        if v is not None and name not in ("round_tail_s", "urls_per_s"):
            out.append(f"{name} = {v:.6g} {units.get(name, '')}")
    bad = [c for c in result["checks"] if not c["ok"]]
    out.append(f"# checks: {len(result['checks']) - len(bad)} passed, {len(bad)} failed")
    out += [f"# FAILED {c['name']}: {c['detail']}" for c in bad]
    if result["missing"]:
        out.append("# no value for: " + ", ".join(result["missing"]))
    return out
