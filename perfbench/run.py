#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_sql --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from source with sbt (once per source
state), generates the corpora (once per checkout), launches one harness JVM
for the run and prints the run's result as the last line of stdout:

    {"correct": true, "attempted": 40, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics, and the spans of the run go
to perfbench/.work/trace_<workload>.json together with the tracing overhead
(traced minus the last untraced run of the same workload).

Other modes: --selftest (harness self-tests plus a dry run of every workload
on a tiny corpus), --record-fingerprints (rewrite perfbench/fingerprints.json
from the current engine), --capacity N (closed-loop serve_sql capacity over
N seconds, used to set the open-loop rate).
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
WORKLOADS = ("serve_sql", "batch_x10z")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def heap_mb():
    """A quarter of physical memory, between 1 and 6 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(min(max(total // 4, 1 << 30), 6 << 30) >> 20)


def env():
    e = dict(os.environ)
    e["SPARK_DRIVER_MEM"] = f"{heap_mb()}m"
    e["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    return e


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_checked(cmd, timeout, **kw):
    """Run cmd with its stdout sent to our stderr; kill it on timeout."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")


def build():
    """sbt compile of engine + harness, skipped when sources are unchanged."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source not found ({need} missing under {ROOT})")
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return
    log("building engine and harness with sbt")
    t0 = time.time()
    code = run_checked(["sbt", "-batch", "-Dsbt.server.autostart=false",
                        "writeRunSpec"], BUILD_TIMEOUT_S, cwd=BENCH, env=env())
    if code != 0 or not os.path.exists(cp_file):
        fail(f"sbt build failed (exit {code})")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    log(f"build took {time.time() - t0:.1f} s")


def java_cmd(main_args, work, fingerprints=os.path.join(BENCH, "fingerprints.json")):
    with open(os.path.join(TARGET, "classpath.txt")) as f:
        cp = [line.strip() for line in f if line.strip()]
    with open(os.path.join(TARGET, "javaopts.txt")) as f:
        opts = [line.strip() for line in f if line.strip()]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={tmp}",
             "-Duser.timezone=UTC",
             f"-Dperfbench.fingerprints={fingerprints}"]
            + opts + ["-cp", os.pathsep.join(cp), "perfbench.Main"] + main_args)


def corpora(work, small=False):
    """Base corpora from gen_corpus.py, then the x10 zipf copy built by the
    engine's own ScaleCorpus. Each is built once and reused."""
    sys.path.insert(0, BENCH)
    import gen_corpus
    base = os.path.join(work, "corpus")
    built = {}
    for name, sf in (("sf0.1", 0.1), ("sf0.01", 0.01)):
        d = os.path.join(base, name)
        if not os.path.exists(os.path.join(d, "_COMPLETE")):
            t0 = time.time()
            gen_corpus.generate(d, 0.001 if small else sf)
            built[name] = time.time() - t0
            open(os.path.join(d, "_COMPLETE"), "w").close()
    if not os.path.exists(os.path.join(base, "x10z", "_COMPLETE")):
        t0 = time.time()
        if run_checked(java_cmd(["prepare", work], work), RUN_TIMEOUT_S,
                       cwd=ROOT, env=env()) != 0:
            fail("building the x10 zipf corpus failed")
        built["x10z"] = time.time() - t0
    if built:
        log("corpus build (not part of setup_s): " +
            ", ".join(f"{k} {v:.1f} s" for k, v in built.items()))
        with open(os.path.join(work, "corpus_build.json"), "w") as f:
            json.dump({k: round(v, 3) for k, v in built.items()}, f)


def run_harness(workload, seed, seconds, trace, work, timeout):
    cmd = java_cmd(["run", workload, str(seed), str(seconds), str(trace), work], work)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         cwd=ROOT, env=env(), text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail(f"harness run timed out after {timeout:.0f} s", 3)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail(f"harness exited {p.returncode} without a result", 3)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}", 3)
    return result


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def tracing_overhead(workload, work):
    """Traced minus untraced end-to-end figures, from the trace file and the
    last untraced run of the same workload."""
    base = os.path.join(work, f"last_{workload}.json")
    trace_file = os.path.join(work, f"trace_{workload}.json")
    if not (os.path.exists(base) and os.path.exists(trace_file)):
        log("no untraced run on file; tracing overhead not computed")
        return
    with open(base) as f:
        untraced = json.load(f)["metrics"]
    with open(trace_file) as f:
        report = json.load(f)
    over = {k: v - untraced[k]["value"] for k, v in report["end_to_end"].items()
            if k in untraced and v is not None}
    report["tracing_overhead"] = over
    with open(trace_file, "w") as f:
        json.dump(report, f, indent=1)
    log("tracing overhead (traced - untraced): " +
        ", ".join(f"{k} {v:+.4f}" for k, v in sorted(over.items())))


def selftest():
    import statistics
    sys.path.insert(0, BENCH)
    import spread
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q = statistics.quantiles(vals, n=4)
    assert q == [2.75, 5.5, 8.25], q
    assert abs(spread.iqr_share(vals) - (8.25 - 2.75) / 5.5) < 1e-12
    assert spread.iqr_share([3.0] * 10) == 0.0
    log("python selftest ok (quartiles, spread)")
    build()
    work = os.path.join(WORK, "selftest")
    corpora(work, small=True)
    if run_checked(java_cmd(["selftest", work], work), RUN_TIMEOUT_S,
                   cwd=ROOT, env=env()) != 0:
        fail("harness selftest failed", 1)
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            # the stored fingerprints belong to the full-size corpus
            cmd = java_cmd(["run", w, "1", "2", str(trace), work], work, fingerprints="none")
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               cwd=ROOT, env=env(), text=True, timeout=RUN_TIMEOUT_S)
            lines = [l for l in p.stdout.splitlines() if l.strip()]
            res = json.loads(lines[-1]) if lines else {}
            names = set(res.get("metrics", {}))
            missing = expected_metrics(trace) - names
            extra = names - expected_metrics(trace)
            ok = p.returncode == 0 and res.get("attempted", 0) >= 1 and not missing and not extra
            bad += not ok
            log(f"dry run {w} trace={trace}: {'ok' if ok else 'FAIL'} "
                f"attempted={res.get('attempted')} failed={res.get('failed')} "
                f"missing={sorted(missing)} extra={sorted(extra)}")
    if bad:
        fail(f"{bad} dry run(s) failed", 1)
    log("selftest passed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    ap.add_argument("--capacity", type=float)
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    t0 = time.time()
    build()
    corpora(WORK)
    prepared = time.time() - t0
    if a.record_fingerprints:
        out = os.path.join(BENCH, "fingerprints.json")
        code = run_checked(java_cmd(["record", WORK, out], WORK),
                           RUN_TIMEOUT_S * 2, cwd=ROOT, env=env())
        sys.exit(code)
    if a.capacity:
        sys.exit(run_checked(java_cmd(["capacity", WORK, str(a.capacity)], WORK),
                             RUN_TIMEOUT_S, cwd=ROOT, env=env()))
    if not a.workload:
        fail("--workload is required")
    # a run that built nothing must end within the run limit; one that built
    # the engine or the corpora may take longer, and gives the harness the
    # full limit
    budget = RUN_TIMEOUT_S - prepared if prepared < 30 else RUN_TIMEOUT_S
    result = run_harness(a.workload, a.seed, a.seconds, a.trace, WORK, budget)
    missing = expected_metrics(a.trace) - set(result["metrics"])
    if missing:
        fail(f"result lacks metrics {sorted(missing)}", 3)
    if a.trace:
        tracing_overhead(a.workload, WORK)
    else:
        with open(os.path.join(WORK, f"last_{a.workload}.json"), "w") as f:
            json.dump(result, f)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
