"""Metrics from the harness's raw record.

`end_to_end` gives the user-visible numbers (measured untraced);
`per_layer` gives the numbers of each layer from a traced run, with the
spans and each layer's self time. Times in the record are epoch
milliseconds on one clock shared by harness spans and Spark events.
"""
import re
import statistics

MB = 1048576.0
# Spark events carry whole epoch milliseconds; harness windows are exact.
TOL_MS = 2.0

# End-to-end metrics every workload reports (the BENCHMARK.json list).
E2E = [("setup_s", "s"), ("jobs_per_min", "1/min"), ("job_s_p50", "s"),
       ("live_heap_mb_peak", "MB")]
# Reported where the workload has the data, in the summary and artifact.
E2E_DETAIL = [("job_s_p90", "s"), ("failed_frac", "ratio"), ("trigger_ms_p50", "ms"),
              ("trigger_ms_p90", "ms"), ("stream_rows_per_s", "rows/s")]
FAMILIES = ["dd", "ss", "ta", "pl", "st"]
STREAMING = re.compile(r"^(st\d+|pl04|pp02)_")
DURATIONS = {"add_batch_ms": "addBatch", "query_planning_ms": "queryPlanning",
             "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
             "latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch"}


def pct(xs, q):
    """Percentile with linear interpolation between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def family(name):
    return re.match(r"[a-z]+", name).group()


def _wall_s(j):
    return (j["end"] - j["start"]) / 1e3


def _in(t, start, end):
    return start - TOL_MS <= t <= end + TOL_MS


def _job_triggers(rec):
    """Triggers attributed to each timed job, by the job's window."""
    trig = sorted(rec["triggers"], key=lambda t: t["start"])
    return [[t for t in trig if _in(t["start"], j["start"], j["end"])] for j in rec["jobs"]]


def _calib(rec):
    c = rec["calib"]
    return (c["pre_s"] + c["post_s"]) / 2, (c["par_pre_s"] + c["par_post_s"]) / 2


def end_to_end(rec, bad, history):
    jobs = rec["jobs"]
    walls = [_wall_s(j) for j in jobs]
    ok = [j for j in jobs if j["ok"] and j["name"] not in bad]
    win = rec["window"]
    timed_s = (win["end"] - win["start"] - win["harness_ms"]) / 1e3
    per_job_trig = _job_triggers(rec)
    trig = [t["durations"].get("triggerExecution", 0.0) for ts in per_job_trig for t in ts]
    stream_jobs = [(j, ts) for j, ts in zip(jobs, per_job_trig) if ts]
    stream_wall = sum(_wall_s(j) for j, _ in stream_jobs)
    calib, calib_par = _calib(rec)
    vals = {
        "setup_s": (rec["setup_s"], 1),
        "jobs_per_min": (len(ok) / timed_s * 60.0 if timed_s > 0 else 0.0, len(jobs)),
        "job_s_p50": (pct(walls, 0.5), len(walls)),
        "live_heap_mb_peak": (max(rec["heap_mb"]), len(rec["heap_mb"])),
        "job_s_p90": (pct(walls, 0.9), len(walls)),
        "failed_frac": (sum(1 for j in jobs if not j["ok"] or j["name"] in bad)
                        / max(len(jobs), 1), len(jobs)),
        "trigger_ms_p50": (pct(trig, 0.5), len(trig)),
        "trigger_ms_p90": (pct(trig, 0.9), len(trig)),
        "stream_rows_per_s": (sum(t["inputRows"] for _, ts in stream_jobs for t in ts)
                              / stream_wall if stream_wall else 0.0, len(stream_jobs)),
    }
    e2e = {k: {"value": vals[k][0], "unit": u} for k, u in E2E}
    detail = {}
    for k, u in E2E + E2E_DETAIL:
        v, n = vals[k]
        # A p90 needs at least ten samples beyond it.
        if k.endswith("_p90") and n < 100:
            detail[k] = f"not reported: {n} samples, a p90 needs 100"
        elif n == 0 or (k in dict(E2E_DETAIL) and v == 0 and k != "failed_frac"):
            detail[k] = "no data on this workload"
        else:
            detail[k] = {"value": v, "unit": u, "n": n}
    detail["host.calib_s"] = calib
    detail["host.calib_par_s"] = calib_par

    # Co-tenancy: flag a marker above 1.25x the median of earlier runs.
    warnings = []
    for key, now in [("calib_s", calib), ("calib_par_s", calib_par)]:
        earlier = [h[key] for h in history if key in h]
        if earlier and now > 1.25 * statistics.median(earlier):
            warnings.append(f"{key} {now:.3f} s is {now / statistics.median(earlier):.2f}x "
                            f"the median of {len(earlier)} earlier runs: noisy host")
    for e in rec["errors"]:
        warnings.append(e)
    return e2e, detail, warnings


def _union(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
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


def _overlap2(intervals, lo, hi):
    """Time in [lo, hi] during which at least two intervals are open."""
    ev = sorted([(max(s, lo), 1) for s, e in intervals if e > s] +
                [(min(e, hi), -1) for s, e in intervals if e > s])
    open_, last, total = 0, lo, 0.0
    for t, d in ev:
        if open_ >= 2:
            total += max(0.0, t - last)
        open_ += d
        last = t
    return total


def per_layer(rec, bad):
    """Per-layer metrics of a traced run, the reasons for names without
    data, and the trace checks that failed."""
    jobs = rec["jobs"]
    n = max(len(jobs), 1)
    walls = [_wall_s(j) for j in jobs]
    problems, no_data, out = [], {}, {}

    def put(name, value, unit, why=None):
        out[name] = {"value": float(value), "unit": unit}
        if why:
            no_data[name] = why

    stages = {}
    for st in rec["stages"]:
        stages.setdefault(st["id"], []).append(st)
    sjobs = rec["spark_jobs"]
    windows = [s for s in rec["spans"] if s["layer"] in ("setup", "job", "kernels")]
    unattributed = [j for j in sjobs if not any(_in(j["start"], w["start"], w["end"]) for w in windows)]
    if unattributed:
        problems.append(f"{len(unattributed)} of {len(sjobs)} Spark jobs fall outside "
                        "every benchmark window")

    per = []  # per timed job: its Spark jobs and stages
    for j in jobs:
        mine = [s for s in sjobs if _in(s["start"], j["start"], j["end"])]
        sts = [st for s in mine for sid in s["stages"] for st in stages.get(sid, [])
               if st["submitted"] > 0]
        eager = [s for s in mine if _in(s["start"], j["start"], j["start"] + j["defineMs"])
                 and j["actionMs"] > 0]
        per.append((j, mine, sts, eager))

    def mean_sum(f):
        return sum(f(j, m, s) for j, m, s, _ in per) / n

    # graft.pipeline
    pp = [(j, m) for j, m, _, _ in per if family(j["name"]) == "pp"]
    why_pp = None if pp else "no pipeline (pp) jobs in this workload"
    put("pipeline.job_s", sum(_wall_s(j) for j, _ in pp) / len(pp) if pp else 0, "s", why_pp)
    put("pipeline.sink_overlap_frac",
        statistics.mean(_overlap2([(s["start"], s["end"]) for s in m], j["start"], j["end"])
                        / max(j["end"] - j["start"], 1e-9) for j, m in pp) if pp else 0,
        "ratio", why_pp)

    # graft.operators
    put("ops.define_ms", sum(j["defineMs"] for j in jobs) / n, "ms")
    put("ops.action_ms", sum(j["actionMs"] for j in jobs) / n, "ms")
    put("ops.eager_jobs", sum(len(e) for _, _, _, e in per) / n, "count")
    for fam in FAMILIES:
        fj = [w for j, w in zip(jobs, walls) if family(j["name"]) == fam]
        put(f"ops.{fam}_s", sum(fj) / len(fj) if fj else 0, "s",
            None if fj else f"no {fam}* jobs in this workload")
    put("ops.attempted", len(jobs), "count")
    put("ops.failed", sum(1 for j in jobs if not j["ok"] or j["name"] in bad), "count")

    # graft.functions / graft.plans
    for k in ["vec_dot", "vec_dot_builtin", "minhash", "minhash_builtin", "nfc", "nfc_udf",
              "topk", "topk_window"]:
        name = f"kernels.{k}_ns"
        v = rec["kernels"].get(name)
        put(name, v or 0, "ns", None if v else "kernel micro-job did not run")

    # graft.streaming
    per_trig = _job_triggers(rec)
    sj = [(j, ts) for j, ts in zip(jobs, per_trig) if ts]
    for j, ts in zip(jobs, per_trig):
        if STREAMING.match(j["name"]) and not ts:
            problems.append(f"streaming job {j['name']} recorded zero triggers")
    trig = [t for _, ts in sj for t in ts]
    why_st = None if trig else "no streaming triggers in this workload"
    ns = max(len(sj), 1)
    nt = max(len(trig), 1)
    put("stream.triggers", len(trig) / ns, "count", why_st)
    put("stream.input_rows", sum(t["inputRows"] for t in trig) / ns, "rows", why_st)
    for k, key in DURATIONS.items():
        put(f"stream.{k}", sum(t["durations"].get(key, 0.0) for t in trig) / nt, "ms", why_st)
    put("stream.state_commit_ms", sum(t["stateCommitMs"] for t in trig) / nt, "ms", why_st)
    put("stream.state_rows", sum(t["stateRows"] for t in trig) / nt, "rows", why_st)
    put("stream.state_mem_mb", max([t["stateMemBytes"] / MB for t in trig] or [0]), "MB", why_st)
    put("stream.startup_ms", sum(ts[0]["start"] - j["start"] for j, ts in sj) / ns, "ms", why_st)
    put("stream.teardown_ms", sum(j["end"] - (ts[-1]["start"] + ts[-1]["durations"].get(
        "triggerExecution", 0.0)) for j, ts in sj) / ns, "ms", why_st)
    trig_ms = [t["durations"].get("triggerExecution", 0.0) for t in trig]
    put("trigger_ms_p50", pct(trig_ms, 0.5), "ms", why_st)
    put("trigger_ms_p90", pct(trig_ms, 0.9), "ms", why_st)
    sw = sum(_wall_s(j) for j, _ in sj)
    put("stream_rows_per_s", sum(t["inputRows"] for t in trig) / sw if sw else 0, "rows/s", why_st)

    # graft.sources
    in_b = mean_sum(lambda j, m, s: sum(st["in_bytes"] for st in s))
    put("sources.input_mb", in_b / MB, "MB")
    put("sources.input_records", mean_sum(lambda j, m, s: sum(st["in_records"] for st in s)), "rows")
    put("sources.output_mb", mean_sum(lambda j, m, s: sum(st["out_bytes"] for st in s)) / MB, "MB")
    put("sources.output_records",
        mean_sum(lambda j, m, s: sum(st["out_records"] for st in s)), "rows")
    put("sources.scratch_mb", rec["scratch"]["bytes"] / MB, "MB")
    put("sources.scratch_files", rec["scratch"]["files"], "count")
    put("sources.write_amp", rec["scratch"]["bytes"] / (in_b * n) if in_b else 0, "ratio")

    # Catalyst phases, attributed to timed jobs by the first phase's start.
    ph = [p for p in rec["phases"] if any(_in(p[0], j["start"], j["end"]) for j in jobs)]
    put("catalyst.analysis_ms", sum(p[1] for p in ph) / n, "ms")
    put("catalyst.optimization_ms", sum(p[2] for p in ph) / n, "ms")
    put("catalyst.planning_ms", sum(p[3] for p in ph) / n, "ms")
    put("catalyst.executions", len(ph) / n, "count")

    # Scheduler
    put("sched.jobs", mean_sum(lambda j, m, s: len(m)), "count")
    put("sched.stages", mean_sum(lambda j, m, s: len(s)), "count")
    put("sched.tasks", mean_sum(lambda j, m, s: sum(len(st["task_ms"]) for st in s)), "count")
    put("sched.driver_gap_ms", mean_sum(lambda j, m, s: (j["end"] - j["start"]) - _union(
        [(st["submitted"], st["completed"]) for st in s], j["start"], j["end"])), "ms")

    # Executors
    task_ms = mean_sum(lambda j, m, s: sum(sum(st["task_ms"]) for st in s))
    put("exec.task_ms", task_ms, "ms")
    put("exec.cpu_ms", mean_sum(lambda j, m, s: sum(st["cpu_ms"] for st in s)), "ms")
    put("exec.gc_ms", mean_sum(lambda j, m, s: sum(st["gc_ms"] for st in s)), "ms")
    put("exec.deser_ms", mean_sum(lambda j, m, s: sum(st["deser_ms"] for st in s)), "ms")
    put("exec.busy_frac", task_ms * n / (sum(walls) * 1e3 * rec["nproc"]) if walls else 0,
        "ratio")
    heavy = max((st for _, _, s, _ in per for st in s if st["task_ms"]),
                key=lambda st: sum(st["task_ms"]), default=None)
    put("exec.stage_skew", max(heavy["task_ms"]) / max(statistics.median(heavy["task_ms"]), 1.0)
        if heavy else 0, "ratio")

    # Shuffle
    put("shuffle.write_mb", mean_sum(lambda j, m, s: sum(st["sh_write_bytes"] for st in s)) / MB,
        "MB")
    put("shuffle.read_mb", mean_sum(lambda j, m, s: sum(st["sh_read_bytes"] for st in s)) / MB,
        "MB")
    put("shuffle.write_ms", mean_sum(lambda j, m, s: sum(st["sh_write_ms"] for st in s)), "ms")
    put("shuffle.fetch_wait_ms",
        mean_sum(lambda j, m, s: sum(st["fetch_wait_ms"] for st in s)), "ms")
    put("shuffle.spill_mb", mean_sum(lambda j, m, s: sum(st["spill_bytes"] for st in s)) / MB,
        "MB")

    # Block manager
    put("cache.mem_mb_peak", max([c[1] for c in rec["cache"]] or [0]), "MB")
    put("cache.disk_mb_peak", max([c[2] for c in rec["cache"]] or [0]), "MB")

    # JVM and host
    put("jvm.gc_ms", rec["jvm"]["gc_ms"], "ms")
    put("jvm.jit_ms", rec["jvm"]["jit_ms"], "ms")
    calib, calib_par = _calib(rec)
    put("host.calib_s", calib, "s")
    put("host.calib_par_s", calib_par, "s")
    put("failed_frac", out["ops.failed"]["value"] / n, "ratio")
    return out, no_data, problems


def spans_out(rec, run_id):
    """All spans of the run (harness, Spark job, stage, trigger) with
    parents, and each layer's self time: span duration less the part of it
    that child spans cover."""
    spans = [dict(s) for s in rec["spans"]]
    next_id = max(s["id"] for s in spans) + 1
    inner = [s for s in spans if s["layer"] in ("define", "action", "warmup", "kernel")]
    outer = [s for s in spans if s["layer"] in ("job", "kernels", "setup")]

    def parent_of(t):
        for group in (inner, outer):
            hits = [s for s in group if _in(t, s["start"], s["end"])]
            if hits:
                return min(hits, key=lambda s: s["end"] - s["start"])["id"]
        return 0

    stage_by_id = {}
    for st in rec["stages"]:
        stage_by_id.setdefault(st["id"], []).append(st)
    for j in rec["spark_jobs"]:
        jid = next_id
        next_id += 1
        spans.append({"id": jid, "parent": parent_of(j["start"]), "layer": "spark_job",
                      "name": f"job{j['id']}", "start": j["start"], "end": j["end"] or j["start"]})
        for sid in j["stages"]:
            for st in stage_by_id.get(sid, []):
                if st["submitted"] > 0:
                    spans.append({"id": next_id, "parent": jid, "layer": "stage",
                                  "name": f"stage{sid}.{st['attempt']}",
                                  "start": st["submitted"], "end": st["completed"] or st["submitted"]})
                    next_id += 1
        for sid in j["stages"]:
            stage_by_id.pop(sid, None)  # a stage shared by two jobs belongs to the first
    job_spans = [s for s in spans if s["layer"] == "job"]
    for t in rec["triggers"]:
        hits = [s for s in job_spans if _in(t["start"], s["start"], s["end"])]
        spans.append({"id": next_id, "parent": hits[0]["id"] if hits else 0, "layer": "trigger",
                      "name": f"{t['runId'][:8]}.{t['batchId']}", "start": t["start"],
                      "end": t["start"] + t["durations"].get("triggerExecution", 0.0)})
        next_id += 1

    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    self_ms = {}
    for s in spans:
        cover = _union([(k["start"], k["end"]) for k in kids.get(s["id"], [])], s["start"], s["end"])
        self_ms[s["layer"]] = self_ms.get(s["layer"], 0.0) + (s["end"] - s["start"]) - cover
    for s in spans:
        s["run_id"] = run_id
    return {"spans": spans, "self_time_ms": self_ms}
