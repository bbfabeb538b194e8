#!/usr/bin/env python3
"""Benchmark runner for the graft Spark engine.

Run from the root of a source tree:

    python3 perfbench/run.py --workload operator_mix --seed 1 --seconds 5 --trace 0

It builds the program and the benchmark from source (perfbench/build.sbt,
once per source state), waits for a quiet machine, runs the workload in a
fresh JVM and a fresh work dir, checks every output, and prints the metrics
named in BENCHMARK.json. The last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

`--trace 1` reports the per-layer metrics instead, plus the tracing
overhead against untraced runs of the same workload in this tree.

    python3 perfbench/run.py --record 3

re-records perfbench/expected.json (the expected outputs) from seeds 1..3.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170  # every run ends within 180 s
WORKLOADS = {
    # workload -> input scale under perfbench/data
    "operator_mix": "sf0.001",
    "propensity_model": "sf0.01",
    "catalog_jobs": "sf0.01",
}
# The JDK 17 module opens Spark needs outside spark-submit, as the
# program's build.sbt lists them.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark with sbt once per source state; return
    the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program source here (build.sbt, src/main/scala); run from the root of a source tree")
    stamp = os.path.join(STATE, "build", "stamp")
    cp_file = os.path.join(STATE, "build", "classpath")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    p = run_bounded(cmd, cwd=BENCH, env=env, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode})", 3)
    cp = p.stdout.strip().splitlines()[-1].strip()
    if "perfbench" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath", 3)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def run_bounded(cmd, cwd, env, timeout, log=None):
    """Run a child in its own process group. When it ends, times out, or
    this script is stopped, kill what is left of the group and wait for
    it, so that no process outlives the run."""
    out = open(log, "w+") if log else subprocess.PIPE
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         text=True, start_new_session=True)
    try:
        stdout, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} did not finish within {timeout:.0f}s", 5)
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    if log:
        out.seek(0)
        stdout = out.read()
        out.close()
    return subprocess.CompletedProcess(cmd, p.returncode, stdout or "")


def cpu_busy(interval=1.0):
    """Share of CPU time not idle over `interval` seconds, from /proc/stat
    (the load average lags a just-finished run by a minute)."""
    def sample():
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return sum(v), v[3] + v[4]
    t0, i0 = sample()
    time.sleep(interval)
    t1, i1 = sample()
    return 1 - (i1 - i0) / max(1, t1 - t0)


def await_quiet_machine(max_wait_s=30):
    """Wait (bounded) until less than half the CPU is busy, as graft.Bench
    waits for its load average to settle before it measures."""
    deadline = time.time() + max_wait_s
    busy = cpu_busy()
    while busy > 0.5 and time.time() < deadline:
        print(f"[perfbench] cpu {busy:.0%} busy; waiting for a quiet machine", file=sys.stderr)
        busy = cpu_busy(5)
    return busy


def fixture_dir(data):
    # RelationalQueries writes its format fixtures under /tmp/graft_io,
    # keyed by the data path; cleared around each run so none is reused
    return os.path.join("/tmp", "graft_io", re.sub("[^A-Za-z0-9]", "_", data))


def jvm_run(cp, workload, seed, seconds, trace, deadline):
    """One workload run in a fresh JVM and a fresh work dir."""
    data = os.path.join(BENCH, "data", WORKLOADS[workload])
    work = os.path.join(STATE, "runs", f"{workload}-seed{seed}-trace{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    expected = os.path.join(BENCH, "expected.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # a fixed, pre-touched heap, so that peak RSS does not follow heap
        # resizing or how much of the heap a short run happened to touch
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", data, "--work", work,
        "--conf", os.path.join(BENCH, "conf"), "--out", out,
    ] + (["--expected", expected] if os.path.exists(expected) else [])
    if trace:
        spans = os.path.join(STATE, "spans", f"{workload}-seed{seed}-{int(time.time())}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        cmd += ["--spans", spans]
    # few malloc arenas, so that native memory (and peak RSS) does not
    # depend on which threads happened to allocate first
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, MALLOC_ARENA_MAX="2")
    shutil.rmtree(fixture_dir(data), ignore_errors=True)
    try:
        p = run_bounded(cmd, cwd=work, env=env, timeout=max(10, deadline - time.time()),
                        log=os.path.join(STATE, "last-jvm.log"))
        if p.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(p.stdout[-6000:])
            fail(f"{workload} JVM failed (exit {p.returncode})", 6)
        for line in p.stdout.splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        with open(out) as fh:
            res = json.load(fh)
        if trace:
            res["spans_file"] = spans
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(fixture_dir(data), ignore_errors=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def self_check(metrics, wanted):
    """Every named metric present, a finite number, with its unit."""
    bad = []
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None:
            bad.append(f"{m['name']}: missing")
        elif not isinstance(got.get("value"), (int, float)) or not math.isfinite(got["value"]):
            bad.append(f"{m['name']}: value {got.get('value')!r}")
        elif not got.get("unit") or got["unit"] != m["unit"]:
            bad.append(f"{m['name']}: unit {got.get('unit')!r}, expected {m['unit']!r}")
    if bad:
        fail("self-check failed: " + "; ".join(bad), 4)


def print_self_times(spans_file):
    """Self time per span name of a traced run, summed over its spans."""
    agg = {}
    with open(spans_file) as fh:
        for line in fh:
            s = json.loads(line)
            n, wall, self_s = agg.get(s["name"], (0, 0.0, 0.0))
            agg[s["name"]] = (n + 1, wall + s["wall_s"], self_s + s["self_s"])
    print(f"{'span':32s} {'count':>5s} {'wall_s':>9s} {'self_s':>9s}")
    for name, (n, wall, self_s) in sorted(agg.items(), key=lambda kv: -kv[1][2]):
        print(f"{name:32s} {n:5d} {wall:9.3f} {self_s:9.3f}")
    print(f"spans: {os.path.relpath(spans_file, ROOT)}")


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def store_untraced(workload, seed, res):
    """Keep an untraced run's result as a reference for tracing overhead."""
    d = os.path.join(STATE, "results", workload)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"seed{seed}-{int(time.time() * 1000)}.json"), "w") as fh:
        json.dump(dict(res, source_sha256=source_hash()), fh)


def untraced_reference(cp, workload, seed, seconds, deadline):
    """End-to-end metrics of untraced runs of this workload in this tree
    (median per metric); one fresh untraced run when there are none."""
    d = os.path.join(STATE, "results", workload)
    refs = []
    digest = source_hash()
    if os.path.isdir(d):
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f)) as fh:
                r = json.load(fh)
            if r.get("source_sha256") == digest:
                refs.append(r["end_to_end"])
    if not refs:
        res = jvm_run(cp, workload, seed, seconds, 0, deadline)
        store_untraced(workload, seed, res)
        refs = [res["end_to_end"]]
    return {k: statistics.median(r[k]["value"] for r in refs) for k in refs[0]}


def record(cp, n, only):
    """Re-record perfbench/expected.json (for one workload, or all): the
    outputs of seeds 1..n that agree."""
    path = os.path.join(BENCH, "expected.json")
    exp = json.load(open(path)) if only and os.path.exists(path) else {}
    runs = {w: [jvm_run(cp, w, s, 1, 0, time.time() + RUN_LIMIT_S)["observed"] for s in range(1, n + 1)]
            for w in WORKLOADS if only in (None, w)}
    for w in runs:
        exp[w] = {"queries": {}} if w == "operator_mix" else {"rows": {}}
    for q in sorted(runs.get("operator_mix", [{}])[0]):
        obs = [r[q] for r in runs["operator_mix"]]
        assert len({o["rows"] for o in obs}) == 1, f"{q}: row counts differ across seeds: {obs}"
        hashes = {o["hash"] for o in obs}
        exp["operator_mix"]["queries"][q] = {"rows": obs[0]["rows"],
                                             "hash": hashes.pop() if len(hashes) == 1 else None}
    for w in set(runs) - {"operator_mix"}:
        for k in sorted(runs[w][0]):
            vals = {r[k] for r in runs[w]}
            if len(vals) != 1:
                print(f"[perfbench] {w} {k} differs across seeds: {sorted(vals)}; not pinned", file=sys.stderr)
            elif k.startswith("rows."):
                exp[w]["rows"][k[5:]] = vals.pop()
            else:
                exp[w][k] = vals.pop()
    with open(path, "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"[perfbench] wrote {path}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, metavar="N", help="re-record expected.json from N seeds")
    args = ap.parse_args()
    # a stop request unwinds through the clean-up of children and work dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()
    if args.record:
        return record(cp, args.record, args.workload)
    if not args.workload:
        ap.error("--workload is required")
    start = time.time()
    deadline = start + RUN_LIMIT_S
    busy_before = await_quiet_machine()
    load_before = os.getloadavg()[0]
    reference = (untraced_reference(cp, args.workload, args.seed, args.seconds, deadline)
                 if args.trace else None)
    res = jvm_run(cp, args.workload, args.seed, args.seconds, args.trace, deadline)
    load_after = os.getloadavg()[0]

    s = spec()
    e2e = res["end_to_end"]
    self_check(e2e, s["end_to_end"])
    if args.trace:
        metrics = dict(res["per_layer"])
        for m in s["end_to_end"]:
            metrics[f"trace_overhead.{m['name']}"] = {
                "value": e2e[m["name"]]["value"] - reference[m["name"]], "unit": m["unit"]}
        self_check(metrics, s["per_layer"])
        metrics = {m["name"]: metrics[m["name"]] for m in s["per_layer"]}
        print_self_times(res["spans_file"])
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in s["end_to_end"]}
        store_untraced(args.workload, args.seed, res)

    attempted, failed = res["attempted"], res["failed"]
    record_line = {
        "workload": args.workload, "seed": args.seed, "traced": bool(args.trace),
        "scale": WORKLOADS[args.workload], "units": res["units"], "nproc": os.cpu_count(),
        "load_before": round(load_before, 2), "load_after": round(load_after, 2),
        "cpu_busy_before": round(busy_before, 3),
        "git_commit": git_commit(), "source_sha256": source_hash(),
        "spark_version": res["spark_version"], "setups_s": res["setups_s"],
        "failed_ratio": failed / attempted if attempted else 1.0,
        "ops": res["ops"], "detail": res["detail"], "wall_s": round(time.time() - start, 1),
    }
    # the same numbers under the names a reader of the workload looks for
    chain = {"propensity_model": "propensity_s", "catalog_jobs": "catalog_s"}.get(args.workload)
    for name, m in sorted(e2e.items()):
        print(f"{args.workload:17s} {name:12s} {m['value']:12.4f} {m['unit']}")
    if chain:
        print(f"{args.workload:17s} {chain:12s} {e2e['op_p50_s']['value']:12.4f} s")
    print(f"{args.workload:17s} {'failed_ratio':12s} {record_line['failed_ratio']:12.4f} ratio")
    print(json.dumps({"run": record_line}, sort_keys=True))
    print(json.dumps({"correct": failed == 0 and attempted >= 1, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
