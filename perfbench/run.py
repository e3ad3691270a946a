#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, outputs checked.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Run from the root of a source tree. The first run builds the engine and the
harness with sbt (offline) into .bench_build/; later runs start the JVM
directly. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, measured with tracing
off; with --trace 1 they are the per-layer ones, from a traced run that also
writes its spans and a layer report under .bench_build/perfbench/. See
perfbench/README.md for the workloads and what each metric means.

The sf0.1 test tables are read from $SPARK_GRAFT_SF_DIR, by default
~/testdata/sf0.1.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("relational", "iterative", "text_dedup", "f1_season")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
#: Heap of the benchmark JVM (pre-touched, as the engine's build sets it).
HEAP = "3g"


class Fatal(Exception):
    """The benchmark cannot run here; no result is printed."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- build -------------------------------------------------------------------

def build_inputs():
    """Every file whose content decides the build, relative to ROOT."""
    files = ["build.sbt", os.path.join("perfbench", "build.sbt")]
    for base in ("project", os.path.join("src", "main"),
                 os.path.join("perfbench", "project"),
                 os.path.join("perfbench", "src", "main")):
        top = os.path.join(ROOT, base)
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for n in sorted(names):
                if n.endswith((".scala", ".java", ".sbt", ".properties")):
                    files.append(os.path.relpath(os.path.join(d, n), ROOT))
    return files


def stamp():
    h = hashlib.sha256(HEAP.encode())
    for rel in build_inputs():
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read() + b"\0")
    return h.hexdigest()


def on_term(signum, frame):
    raise Fatal(f"stopped by signal {signum}")


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    when this process is told to stop, and wait for it, so nothing outlives
    the call."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise Fatal(f"{cmd[0]} timed out after {timeout} s")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def ensure_built():
    """Build once per source state; returns the launch file's path."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise Fatal(f"no {need} under {ROOT}: run from a full source tree")
    launch = os.path.join(OUT, "launch.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    want = stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return launch
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env["SPARK_DRIVER_MEM"] = HEAP
    env["TMPDIR"] = os.path.join(OUT, "tmp")  # the sbt launcher's argument files
    os.makedirs(env["TMPDIR"], exist_ok=True)
    if os.path.exists(launch):
        os.remove(launch)
    log("building engine and harness (sbt, first run only) ...")
    t0 = time.time()
    with open(os.path.join(OUT, "build.log"), "w") as logf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        f"writeLaunch {launch}"], BUILD_TIMEOUT_S,
                       cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(launch):
        raise Fatal(f"build failed (exit {rc}); see {OUT}/build.log")
    with open(stamp_file, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.0f} s")
    return launch


# -- run ---------------------------------------------------------------------

def data_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        raise Fatal(f"no test tables at {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def cpus():
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def run_jvm(launch, args, tag):
    with open(launch) as f:
        lines = [x for x in f.read().split("\n") if x]
    opts, cp = lines[:-1], lines[-1]
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(OUT, "runs", f"{tag}.raw.json")
    trace = os.path.join(OUT, "runs", f"{tag}.trace.json")
    for p in (result, trace):
        if os.path.exists(p):
            os.remove(p)
    cmd = ["java", *opts, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data_dir(), "--cpus", cpus(),
           "--work", os.path.join(OUT, "work", args.workload),
           "--out", result, "--trace-out", trace]
    if args.queries:
        cmd += ["--queries", args.queries]
    os.makedirs(os.path.dirname(result), exist_ok=True)
    with open(os.path.join(OUT, "runs", f"{tag}.jvm.log"), "w") as logf:
        rc = run_group(cmd, JVM_TIMEOUT_S if not args.queries else 7200,
                       cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(result):
        raise Fatal(f"benchmark JVM failed (exit {rc}); see {OUT}/runs/{tag}.jvm.log")
    with open(result) as f:
        res = json.load(f)
    tr = None
    if args.trace:
        with open(trace) as f:
            tr = json.load(f)
    return res, tr


# -- checks and metrics ------------------------------------------------------

def load_expected():
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)["queries"]


def record_expected(path, res):
    """Store (or refresh) the row count and fingerprint of every catalog op
    of a run whose JVM-side checks passed."""
    data = {"queries": {}}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    for o in res["ops"]:
        if o["ok"] and "hash" in o:
            data["queries"][o["name"]] = {"rows": o["rows"], "hash": o["hash"]}
    data["queries"] = dict(sorted(data["queries"].items()))
    with open(path, "w") as f:
        json.dump(data, f, indent=1)
        f.write("\n")


def check_ops(res, expected):
    """Mark each catalog op whose fingerprint differs from the stored one.
    Returns the op records, each with `ok` final."""
    ops = res["ops"]
    if res["workload"] == "f1_season":
        return ops
    for o in ops:
        if not o["ok"]:
            continue
        want = expected.get(o["name"])
        if want is None:
            o["ok"], o["error"] = False, "no stored expectation"
        elif (o["rows"], o["hash"]) != (want["rows"], want["hash"]):
            o["ok"] = False
            o["error"] = (f"rows/hash {o['rows']}/{o['hash']} != "
                          f"expected {want['rows']}/{want['hash']}")
    return ops


def end_to_end(res, ops):
    """The end-to-end metrics of one run, from ops that passed their check."""
    warm = [o for o in ops if o["phase"] == "warm"]
    good = [o for o in warm if o["ok"]]
    if not good:
        raise Fatal("no warm op passed its check")
    cold = [o for o in ops if o["phase"] == "cold"]
    lat = stats.summarize([o["latency_s"] for o in good])
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (sum(o["op_s"] for o in cold), "s"),
        "latency_p50_s": (lat["p50"], "s"),
        "write_p50_s": (stats.median([o["write_s"] for o in good]), "s"),
        "throughput_ops_s": (len(good) / sum(o["op_s"] for o in warm), "1/s"),
    }, lat


def report_line(name, value, unit, note=""):
    print(f"{name:<34} {value:>14.6g} {unit:<6}{note}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--queries", default=None,
                    help="probe runs only: 'full' or a comma list of catalog queries")
    ap.add_argument("--record-expected", action="store_true",
                    help="store the run's catalog fingerprints in expected.json")
    args = ap.parse_args(argv)

    signal.signal(signal.SIGTERM, on_term)
    try:
        launch = ensure_built()
        tag = f"{args.workload}-s{args.seed}-t{args.trace}" + ("-probe" if args.queries else "")
        res, trace = run_jvm(launch, args, tag)
        if args.record_expected:
            record_expected(os.path.join(HERE, "expected.json"), res)
        ops = check_ops(res, load_expected())
        e2e, lat = end_to_end(res, ops)
    except Fatal as e:
        log(f"error: {e}")
        return 2

    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        log(f"FAILED {o['phase']} {o['name']}: {o['error']}")
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cores={res['cores']} passes={res['passes']} ops={len(ops)} failed={len(failed)}")
    print(f"# latency samples n={lat['n']}; "
          f"failed_ratio={len(failed) / len(ops):.4f}")
    for name, (v, unit) in e2e.items():
        report_line(name, v, unit)
    if lat["tail_level"] is not None:
        report_line(f"latency_p{round(lat['tail_level'] * 100)}_s", lat["tail"], "s",
                    f"  (n={lat['n']})")
    else:
        print(f"# no latency tail: {lat['n']} samples leave fewer than 10 above p50")

    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    with open(os.path.join(OUT, "runs", f"{tag}.metrics.json"), "w") as f:
        json.dump({k: v for k, (v, _) in e2e.items()}, f, indent=1)

    if args.trace:
        per_layer = layers.per_layer(res, trace, ops)
        for name, (v, unit) in per_layer.items():
            report_line(name, v, unit)
        path = layers.write_report(OUT, args.workload, args.seed, res, trace, ops, e2e)
        print(f"# layer report: {os.path.relpath(path, ROOT)}")
        metrics = per_layer
    else:
        metrics = e2e
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
