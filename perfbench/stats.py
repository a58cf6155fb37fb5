"""Statistics of one benchmark run: end-to-end metrics from the harness's
raw lane samples, and per-layer metrics from the spans of a traced run.

Pure functions over the harness's `result.json`; `run.py` calls them and
the self-tests in `tests/` pin their rules.
"""
import math
import statistics

MiB = 1048576.0
PLAN_PHASES = {"analysis": "plan.analysis_ms", "optimization": "plan.optimize_ms",
               "planning": "plan.physical_ms"}


# ------------------------------------------------------------ end to end

def tail(samples, percentile):
    """The `percentile`-th nearest-rank value of `samples`; refuses a
    percentile that leaves fewer than 10 samples beyond it."""
    xs = sorted(samples)
    rank = math.ceil(percentile / 100.0 * len(xs))
    if not 0 < percentile < 100 or rank < 1 or len(xs) - rank < 10:
        raise ValueError(f"p{percentile} of {len(xs)} samples leaves "
                         f"{len(xs) - rank} beyond it; at least 10 are needed")
    return xs[rank - 1]


def timed_passes(result, traced=False):
    return [p for p in result.get("passes", []) if p["traced"] == traced]


def lane_medians(passes):
    """lane -> median latency (build plus forced execution) over passes."""
    by_lane = {}
    for p in passes:
        for s in p["lanes"]:
            if s["error"] is None:
                by_lane.setdefault(s["lane"], []).append(s["total_s"])
    return {lane: statistics.median(xs) for lane, xs in by_lane.items()}


def wall_s(passes):
    """One warm pass: the sum over lanes of each lane's median latency."""
    return sum(lane_medians(passes).values())


def lane_calls(result):
    """Every lane call of the cold and timed passes."""
    return [s for p in [result["cold"]] + result.get("passes", []) for s in p["lanes"]]


def check_failures(result, tally):
    """lane -> reason, for each lane whose output failed the check: the
    oracle compare (`tools/selfcheck.py` tally), a throw while writing the
    checked output, or a rows-only lane whose row count or digest changed
    between passes."""
    bad = {}
    for lane in result["lanes"]:
        q = tally.get("queries", {}).get(lane)
        if q is None or not q["pass"]:
            bad[lane] = f"oracle check: {q['mode'] if q else 'missing'}"
    for lane, err in result.get("check_errors", {}).items():
        bad[lane] = f"check write threw: {err}"
    seen = {}
    for d in result.get("digests", []):
        seen.setdefault(d["lane"], set()).add((d["rows"], d["digest"]))
    for lane, values in seen.items():
        if len(values) > 1:
            bad[lane] = f"rows-only output changed across passes: {sorted(values)}"
    return bad


def failures(result, tally):
    """(attempted, failed, named failures): lane calls that threw plus
    lanes whose output failed the check, against lane calls attempted."""
    calls = lane_calls(result)
    thrown = [f"{s['id']}: {s['error']}" for s in calls if s["error"] is not None]
    checked = [f"{lane}: {why}" for lane, why in sorted(check_failures(result, tally).items())]
    return len(calls), len(thrown) + len(checked), thrown + checked


def end_to_end(result, tally, percentile):
    passes = timed_passes(result)
    samples = [s["total_s"] for p in passes for s in p["lanes"] if s["error"] is None]
    attempted, failed, _ = failures(result, tally)
    return {
        "setup_s": (result["setup_s"], "s"),
        "wall_s": (wall_s(passes), "s"),
        "lane_p50_s": (statistics.median(samples), "s"),
        "lane_tail_s": (tail(samples, percentile), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "heap_peak_mb": (result["heap_peak_mb"], "MiB"),
        "pass_frac": (1.0 - failed / attempted, "ratio"),
    }


# ------------------------------------------------------------ spans

def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - union_ms(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def build_spans(result):
    """Spans of the traced passes. `lane` > `build`/`exec` > jobs (by job
    group) > stages (by job); a query (its planning, first to last phase)
    goes under whichever of `build`/`exec` was running when it began, with
    its planning phases under it. Lane ids are `workload.seed.pass.lane`."""
    tr = result["trace"]
    spans = []
    windows = []
    for p in timed_passes(result, traced=True):
        for s in p["lanes"]:
            spans.append({"id": s["id"], "name": "lane", "parent": None, "lane": s["lane"],
                          "pass": s["pass"], "start": s["t0_ms"], "end": s["t1_ms"]})
            for name, a, b in (("build", s["t0_ms"], s["tb_ms"]), ("exec", s["tb_ms"], s["t1_ms"])):
                sid = f"{s['id']}/{name}"
                spans.append({"id": sid, "name": name, "parent": s["id"], "lane": s["lane"],
                              "pass": s["pass"], "start": a, "end": b})
                windows.append((a, b, sid, s["lane"], s["pass"]))
    by_id = {sp["id"]: sp for sp in spans}
    stage_job = {}
    for j in tr["jobs"]:
        group = j["group"] or ""
        lane_id, _, part = group.rpartition("|")
        parent = f"{lane_id}/{part}"
        if parent not in by_id or j["end_ms"] < 0:
            continue
        owner = by_id[parent]
        spans.append({"id": f"job{j['job']}", "name": "job", "parent": parent,
                      "lane": owner["lane"], "pass": owner["pass"],
                      "start": j["start_ms"], "end": j["end_ms"],
                      "caches_callsite": j["caches_callsite"]})
        for st in j["stages"]:
            stage_job.setdefault(st, f"job{j['job']}")
    jobs = {sp["id"]: sp for sp in spans if sp["name"] == "job"}
    fields = tr["task_fields"]
    for st in tr["stages"]:
        job = jobs.get(stage_job.get(st["stage"]))
        if job is None or st["submitted_ms"] < 0:
            continue
        sums = dict(zip(fields, tr["tasks"].get(str(st["stage"]), [0] * len(fields))))
        spans.append({"id": f"stage{st['stage']}.{st['attempt']}", "name": "stage",
                      "parent": job["id"], "lane": job["lane"], "pass": job["pass"],
                      "start": st["submitted_ms"], "end": st["completed_ms"],
                      "callsite": st["name"], **sums})
    windows.sort()
    for i, q in enumerate(tr["queries"]):
        if not q["phases"]:
            continue
        start = min(a for a, _ in q["phases"].values())
        w = next((w for w in windows if w[0] <= start <= w[1]), None)
        if w is None:
            continue
        qid = f"query{i}"
        spans.append({"id": qid, "name": "query", "parent": w[2], "lane": w[3],
                      "pass": w[4], "start": start,
                      "end": max(b for _, b in q["phases"].values()), "scans": q["scans"]})
        for phase, (a, b) in q["phases"].items():
            spans.append({"id": f"{qid}/{phase}", "name": f"plan.{phase}", "parent": qid,
                          "lane": w[3], "pass": w[4], "start": a, "end": b})
    return spans


def layer_metrics(spans):
    """Per-layer metrics, per traced pass, from the spans of one lane set."""
    passes = sorted({sp["pass"] for sp in spans if sp["name"] == "lane"}) or [None]
    n = len(passes)
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    of = lambda name: [sp for sp in spans if sp["name"] == name]
    dur = lambda sp: sp["end"] - sp["start"]
    jobs, stages = of("job"), of("stage")
    task = lambda f: sum(st.get(f, 0) for st in stages)
    task_run_s = task("run_ms") / 1e3
    busy_s = union_ms([(j["start"], j["end"]) for j in jobs]) / 1e3
    m = {
        "ops.build_s": sum(map(dur, of("build"))) / 1e3 / n,
        "ops.build_self_s": sum(self_ms(sp, kids.get(sp["id"], [])) for sp in of("build")) / 1e3 / n,
        "ops.build_jobs": sum(1 for j in jobs if j["parent"].endswith("/build")) / n,
        "io.scans": sum(sp["scans"] for sp in of("query")) / n,
        "io.scan_mb": task("in_bytes") / MiB / n,
        "io.scan_tasks": task("scan_tasks") / n,
        "io.write_mb": task("out_bytes") / MiB / n,
        "exec.s": sum(map(dur, of("exec"))) / 1e3 / n,
        "exec.self_s": sum(self_ms(sp, kids.get(sp["id"], [])) for sp in of("exec")) / 1e3 / n,
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stages) / n,
        "exec.tasks": task("tasks") / n,
        "exec.job_ms_p50": statistics.median(map(dur, jobs)) if jobs else 0.0,
        "exec.task_overhead_s": (task("duration_ms") - task("run_ms")) / 1e3 / n,
        "exec.task_cpu_s": task("cpu_ns") / 1e9 / n,
        "exec.task_run_s": task_run_s / n,
        "exec.parallelism": task_run_s / busy_s if busy_s > 0 else 0.0,
        "exec.shuffle_write_mb": task("shuffle_write_bytes") / MiB / n,
        "exec.shuffle_read_mb": task("shuffle_read_bytes") / MiB / n,
        "exec.spill_mb": task("spill_bytes") / MiB / n,
        "caches.ckpt_jobs": sum(1 for j in jobs if j["caches_callsite"]) / n,
    }
    for phase, name in PLAN_PHASES.items():
        m[name] = sum(map(dur, of(f"plan.{phase}"))) / n
    return m


def per_layer(result, spans):
    """The run's per-layer metrics, and the same broken out per lane."""
    traced = timed_passes(result, traced=True)
    m = layer_metrics(spans)
    loads = [ms for calls in result["table_load_ms"]["calls_ms"].values() for ms in calls]
    m["io.table_load_ms"] = statistics.median(loads)
    m["exec.gc_ms"] = statistics.mean(p["gc_ms"] for p in traced)
    m["caches.memo_build_s"] = sum(result["memo_build_s"].values())
    m["caches.memos"] = len(result["memo_build_s"])
    m["caches.storage_mb"] = statistics.median(
        max(s["storage_mb"] for s in p["lanes"]) for p in traced)
    for fn, f in result["functions_ns_row"].items():
        m[f"functions.{fn}_ns_row"] = (f["fn_ns"] - f["base_ns"]) / f["rows"]
    m["trace.overhead"] = wall_s(traced) / wall_s(timed_passes(result))
    lanes = {}
    for lane in result["lanes"]:
        mine = [sp for sp in spans if sp["lane"] == lane]
        lm = layer_metrics(mine)
        lm["serial_cpu_rule"] = (lm["exec.task_cpu_s"] >= 0.8 * lm["exec.task_run_s"]
                                 and lm["exec.parallelism"] < 1.5)
        lanes[lane] = lm
    return m, lanes
