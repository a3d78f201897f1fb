#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the library and the harness
in `perfbench/harness` with sbt (offline; reused while the sources are
unchanged), generates the workload's inputs from the seed, runs the harness
in a fresh JVM on the compiled classpath, checks every job's output against
its DuckDB oracle, and prints the metrics. The last stdout line is one JSON
object: `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
the metrics are the end-to-end ones; with `--trace 1` they are the
per-layer ones, and the run also writes its spans.

Everything a run writes stays under `.perfbench/` in the checkout: the
build stamp, the per-run scratch (deleted afterwards), and one JSON
artifact per run in `.perfbench/runs/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from metrics import end_to_end, per_layer, spans_out  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The generated fixtures the inputs derive from (see TESTDATA.md).
TESTDATA = os.environ.get("GRAFT_TESTDATA", "/root/testdata")
JVM_TIMEOUT_S = 165
# The JDK 17 module opens Spark needs outside spark-submit (the same list
# the library's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the whole group on
    timeout and waits for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_hash(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work_root):
    """Compiles library and harness once per source state; returns the
    runtime classpath."""
    bdir = os.path.join(work_root, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    digest = source_hash(root)
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       840, cwd=os.path.join(root, "perfbench", "harness"),
                       stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=env)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (sbt exit {rc}); log in {log}", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


def heap_size():
    """Half of MemTotal, clamped to 2..8 GiB (the tier-1 test formula)."""
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
                  if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def history_file(work_root):
    return os.path.join(work_root, "history.json")


def load_history(work_root):
    try:
        return json.load(open(history_file(work_root)))
    except (OSError, ValueError):
        return []


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/harness/build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    if not os.path.isdir(TESTDATA):
        die(f"fixture directory {TESTDATA} not found")
    wl = WORKLOADS[a.workload]
    work_root = os.path.join(root, ".perfbench")
    cp = build(root, work_root)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(work_root, "work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in
            ["in", "tmp", "ckpt", "local", "warehouse", "out"]}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.makedirs(os.path.join(dirs["out"], "check"), exist_ok=True)
    try:
        # Input generation is not part of any metric.
        rows = gen.generate(os.path.join(TESTDATA, wl["src"]), dirs["in"], a.seed, wl["copies"])

        cmd = ["java", f"-Xmx{heap_size()}", "-XX:+UseG1GC",
               f"-Djava.io.tmpdir={dirs['tmp']}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graft.perfbench.Harness",
                f"workload={a.workload}", f"fixture={dirs['in']}", "jobs=" + ",".join(wl["jobs"]),
                f"passes={max(2, round(a.seconds / wl['pass_s']))}", f"trace={a.trace}",
                f"nproc={nproc}",
                f"out={dirs['out']}", f"local_dir={dirs['local']}",
                f"warehouse_dir={dirs['warehouse']}"]
        env = dict(os.environ, SPARK_GRAFT_CKPT_DIR=dirs["ckpt"], SPARK_LOCAL_DIRS=dirs["local"])
        log = os.path.join(work, "jvm.log")
        t_jvm = time.time()
        with open(log, "w") as out:
            rc = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=env)
        rec_path = os.path.join(dirs["out"], "record.json")
        if rc != 0 or not os.path.exists(rec_path):
            sys.stderr.write("".join(open(log).readlines()[-40:]))
            die(f"harness JVM failed (exit {rc})", 4)
        rec = json.load(open(rec_path))
        rec["jvm_wall_s"] = time.time() - t_jvm
        names = [n for n in rec["job_list"] if n not in rec["check_errors"]]
        bad = check.check(dirs["in"], os.path.join(dirs["out"], "check"), names)
        bad.update({n: f"warm-up run failed: {e}" for n, e in rec["check_errors"].items()})
        rec["input_rows"] = rows
    finally:
        shutil.rmtree(work, ignore_errors=True)

    history = load_history(work_root)
    e2e, detail, warnings = end_to_end(rec, bad, history)
    problems = []
    if a.trace:
        layers, no_data, problems = per_layer(rec, bad)
    jobs = rec["jobs"]
    attempted = len(jobs)
    failed = sum(1 for j in jobs if not j["ok"] or j["name"] in bad)

    # Artifact and history. The tracing overhead compares this traced run
    # with the median of this checkout's earlier untraced runs.
    overhead = {}
    if a.trace:
        earlier = [h["e2e"] for h in history if h["workload"] == a.workload and not h["traced"]]
        for k, v in e2e.items():
            vals = [h[k] for h in earlier if k in h]
            if vals:
                overhead[k] = v["value"] - statistics.median(vals)
    history.append({"workload": a.workload, "seed": a.seed, "traced": bool(a.trace),
                    "time": time.time(), "calib_s": detail["host.calib_s"],
                    "calib_par_s": detail["host.calib_par_s"],
                    "e2e": {k: v["value"] for k, v in e2e.items()}})
    with open(history_file(work_root), "w") as f:
        json.dump(history[-400:], f)
    runs_dir = os.path.join(work_root, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    run_id = uuid.uuid4().hex
    artifact = {"run_id": run_id, "workload": a.workload, "seed": a.seed,
                "trace": a.trace, "seconds": a.seconds, "nproc": rec["nproc"],
                "e2e": e2e, "detail": detail, "warnings": warnings,
                "mismatches": bad, "errors": rec["errors"], "input_rows": rows,
                "jvm": rec["jvm"], "jvm_wall_s": rec["jvm_wall_s"],
                "heap_mb": rec["heap_mb"],
                "jobs": [[j["name"], j["pass"], round((j["end"] - j["start"]) / 1e3, 4), j["ok"]]
                         for j in rec["jobs"]]}
    if a.trace:
        artifact.update(per_layer=layers, no_data=no_data, problems=problems,
                        tracing_overhead=overhead, **spans_out(rec, run_id))
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{a.workload}-s{a.seed}-t{a.trace}.json"
    with open(os.path.join(runs_dir, name), "w") as f:
        json.dump(artifact, f)

    # Human-readable summary, then the result line.
    print(f"# workload={a.workload} seed={a.seed} trace={a.trace} nproc={rec['nproc']} "
          f"run_id={run_id} artifact=.perfbench/runs/{name}")
    for k, v in detail.items():
        if isinstance(v, dict):
            print(f"# {k:24s} {v['value']:.6g} {v['unit']} (n={v['n']})")
        elif isinstance(v, float):
            print(f"# {k:24s} {v:.6g} s (n=2)")
        else:
            print(f"# {k:24s} {v}")
    for w in warnings:
        print(f"# warning: {w}")
    for n, why in sorted(bad.items()):
        print(f"# mismatch: {n}: {why}")
    if a.trace:
        for k, v in overhead.items():
            print(f"# tracing overhead {k}: {v:+.6g}")
        for k, why in no_data.items():
            print(f"# no data for {k}: {why}")
        for p in problems:
            print(f"# trace check failed: {p}")
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()}
    correct = failed == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
