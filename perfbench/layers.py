"""Per-layer metrics and the layer report of a traced run.

The JVM side writes two files per run: the op records (one per op, with
the op's own timings, GC and codegen counts) and, when traced, the spans:
one per call into a layer, with Spark jobs as child spans and each query
planning stamped with its start time. This module folds them into the
per-layer metrics and a per-workload markdown report.
"""

import json
import os

import stats

MB = 1e6

#: Spans that build an op's DataFrames: a catalog query's function, or an
#: f1_season session's raw reads and F1Pipeline calls.
BUILD_SPANS = ("queries.build", "f1.build")

#: name -> unit, in the order they are printed.
PER_LAYER = {
    "engine.Tables.load_s": "s",
    "engine.Tables.load_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_task_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "codegen.compiles": "count",
    "spark.scheduler.jobs": "count",
    "spark.scheduler.stages": "count",
    "spark.scheduler.tasks": "count",
    "spark.scheduler.driver_gap_s": "s",
    "spark.executor.task_run_s": "s",
    "spark.executor.task_cpu_s": "s",
    "spark.executor.util": "ratio",
    "spark.executor.shuffle_write_mb": "MB",
    "spark.executor.spill_mb": "MB",
    "spark.executor.gc_s": "s",
    "spark.storage.retained_mb": "MB",
    "engine.Commits.stage_s": "s",
    "engine.Commits.commit_s": "s",
    "engine.Commits.read_s": "s",
    "engine.Commits.snapshot_files": "count",
    "engine.Commits.rebases": "count",
    "engine.Commits.storage_ratio": "ratio",
    "engine.Ingest.write_s": "s",
    "engine.Ingest.read_pruned_s": "s",
}


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Trace:
    """Index over one run's spans and jobs."""

    def __init__(self, trace):
        self.spans = trace["spans"]
        self.jobs = trace["jobs"]
        self.plannings = trace["plannings"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs_of = {}
        for j in self.jobs:
            self.jobs_of.setdefault(j["parent"], []).append(j)

    def subtree(self, span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def jobs_under(self, span):
        return [j for s in self.subtree(span) for j in self.jobs_of.get(s["id"], [])]

    def named(self, span, name):
        return [s for s in self.subtree(span) if s["name"] == name]

    def ops(self, phase="warm"):
        return [s for s in self.spans
                if s["name"] == "op" and s["attrs"].get("phase") == phase]

    def plannings_in(self, span):
        return [p for p in self.plannings if span["start"] <= p["start"] <= span["end"]]


def op_layers(tr, op):
    """Layer figures of one op span."""
    jobs = tr.jobs_under(op)
    wall = op["end"] - op["start"]
    builds = [s for name in BUILD_SPANS for s in tr.named(op, name)]
    build_jobs = [j for b in builds for j in tr.jobs_under(b)]
    plans = tr.plannings_in(op)
    return {
        "name": op["attrs"].get("op"),
        "wall_s": wall,
        "build_s": sum(b["end"] - b["start"] for b in builds),
        "build_jobs": len(build_jobs),
        "build_task_s": sum(j["task_run_s"] for j in build_jobs),
        "analysis_s": sum(p["analysis_s"] for p in plans),
        "optimization_s": sum(p["optimization_s"] for p in plans),
        "planning_s": sum(p["planning_s"] for p in plans),
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "driver_gap_s": stats.driver_gap(op["start"], op["end"],
                                         [(j["start"], j["end"]) for j in jobs]),
        "task_run_s": sum(j["task_run_s"] for j in jobs),
        "task_cpu_s": sum(j["task_cpu_s"] for j in jobs),
        "shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / MB,
        "spill_mb": sum(j["spill_bytes"] for j in jobs) / MB,
    }


def per_layer(res, trace, ops):
    """Every per-layer metric of a traced run, as name -> (value, unit).
    Means are per warm op, or per call for `Tables.load`, which the catalog
    workloads' warm passes call directly. A layer a workload never calls
    (`Tables.load` on `f1_season`; `Commits` and `Ingest` on the catalog
    workloads) reads 0, as does a count it never produces."""
    tr = Trace(trace)
    warm_spans = tr.ops("warm")
    rows = [op_layers(tr, s) for s in warm_spans]
    warm = [o for o in ops if o["phase"] == "warm"]
    wall = sum(r["wall_s"] for r in rows)
    exports = [o for o in warm if o.get("export")]

    def op_mean(field, among=warm):
        return mean(o.get(field, 0.0) for o in among)

    tables = [s for s in tr.spans if s["name"] == "engine.Tables.load"
              and tr.by_id.get(s["parent"], {}).get("attrs", {}).get("pass", 0) > 0]
    v = {
        "engine.Tables.load_s": mean(s["end"] - s["start"] for s in tables),
        "engine.Tables.load_jobs": mean(len(tr.jobs_of.get(s["id"], [])) for s in tables),
        "queries.build_s": mean(r["build_s"] for r in rows),
        "queries.build_jobs": mean(r["build_jobs"] for r in rows),
        "queries.build_task_s": mean(r["build_task_s"] for r in rows),
        "catalyst.analysis_s": mean(r["analysis_s"] for r in rows),
        "catalyst.optimization_s": mean(r["optimization_s"] for r in rows),
        "catalyst.planning_s": mean(r["planning_s"] for r in rows),
        "codegen.compiles": mean(o["codegen_compiles"] for o in warm),
        "spark.scheduler.jobs": mean(r["jobs"] for r in rows),
        "spark.scheduler.stages": mean(r["stages"] for r in rows),
        "spark.scheduler.tasks": mean(r["tasks"] for r in rows),
        "spark.scheduler.driver_gap_s": mean(r["driver_gap_s"] for r in rows),
        "spark.executor.task_run_s": mean(r["task_run_s"] for r in rows),
        "spark.executor.task_cpu_s": mean(r["task_cpu_s"] for r in rows),
        "spark.executor.util": (sum(r["task_run_s"] for r in rows) / (res["cores"] * wall)
                                if wall else 0.0),
        "spark.executor.shuffle_write_mb": mean(r["shuffle_write_mb"] for r in rows),
        "spark.executor.spill_mb": mean(r["spill_mb"] for r in rows),
        "spark.executor.gc_s": mean(o["gc_s"] for o in warm),
        "spark.storage.retained_mb": res["peak_retained_bytes"] / MB,
        "engine.Commits.stage_s": op_mean("stage_s"),
        "engine.Commits.commit_s": op_mean("commit_s"),
        "engine.Commits.read_s": mean(s["end"] - s["start"] for op in warm_spans
                                      for s in tr.named(op, "f1.dashboard")),
        "engine.Commits.snapshot_files": op_mean("snapshot_files"),
        "engine.Commits.rebases": float(sum(o.get("rebases", 0) for o in warm)),
        "engine.Commits.storage_ratio": (
            stats.storage_ratio(res["storage"]["stored_bytes"], res["storage"]["raw_bytes"])
            if res.get("storage") else 0.0),
        "engine.Ingest.write_s": op_mean("export_s", exports),
        "engine.Ingest.read_pruned_s": op_mean("read_pruned_s", exports),
    }
    return {k: (v[k], PER_LAYER[k]) for k in PER_LAYER}


def write_report(out_dir, workload, seed, res, trace, ops, e2e_traced):
    """Write the layer report of a traced run: self time and share of wall
    per layer, the top ops by driver gap and by eager build jobs, and the
    tracing overhead against the untraced run of the same seed, if any."""
    tr = Trace(trace)
    warm_spans = tr.ops("warm")
    # jobs become child spans of the span that submitted them; jobs of one
    # span that overlap in time merge into one child, so no time counts twice
    flat = []
    for op in warm_spans:
        flat.extend(tr.subtree(op))
    next_id = -1
    for s in list(flat):
        for a, b in stats.merge_intervals(
                (j["start"], j["end"]) for j in tr.jobs_of.get(s["id"], [])):
            flat.append({"id": next_id, "parent": s["id"], "name": "spark.job",
                         "start": a, "end": b})
            next_id -= 1
    self_t = stats.self_times(flat)
    wall = sum(s["end"] - s["start"] for s in warm_spans)
    rows = [op_layers(tr, s) for s in warm_spans]

    lat = stats.summarize([r["wall_s"] for r in rows])
    lines = [f"# Layer report: {workload}, seed {seed}", "",
             f"{len(warm_spans)} warm ops, {wall:.2f} s of op wall time, "
             f"{res['cores']} cores. Self time is a span's time not covered by "
             "its child spans; `op` self time is the harness's own work and "
             "engine calls between layer boundaries; `spark.job` is time "
             "with a job running.", "",
             "## Totals over the warm ops", "",
             "| ops | wall s | p50 s | tail | build s | eager build jobs / all jobs "
             "| task-time bound s | driver gap s |", "|---|---|---|---|---|---|---|---|",
             f"| {len(rows)} | {wall:.1f} | {lat['p50'] or 0:.3f} | "
             + (f"p{round(lat['tail_level'] * 100)} {lat['tail']:.3f}"
                if lat["tail"] is not None else "n/a")
             + f" | {sum(r['build_s'] for r in rows):.1f} | "
             f"{sum(r['build_jobs'] for r in rows)} / {sum(r['jobs'] for r in rows)} | "
             f"{sum(r['task_run_s'] for r in rows) / res['cores']:.1f} | "
             f"{sum(r['driver_gap_s'] for r in rows):.1f} |", "",
             "## Self time by layer", "",
             "| layer | self s | share of wall |", "|---|---|---|"]
    for name, t in sorted(self_t.items(), key=lambda kv: -kv[1]):
        lines.append(f"| `{name}` | {t:.3f} | {t / wall:.1%} |")
    for title, key in (("driver gap", "driver_gap_s"), ("eager build jobs", "build_jobs")):
        lines += ["", f"## Top 10 ops by {title}", "",
                  "| op | wall s | driver gap s | build jobs | jobs |", "|---|---|---|---|---|"]
        for r in sorted(rows, key=lambda r: -r[key])[:10]:
            lines.append(f"| {r['name']} | {r['wall_s']:.3f} | {r['driver_gap_s']:.3f} "
                         f"| {r['build_jobs']} | {r['jobs']} |")
    untraced = os.path.join(out_dir, "runs", f"{workload}-s{seed}-t0.metrics.json")
    lines += ["", "## Tracing overhead", ""]
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
        lines += ["Traced minus untraced, same seed.", "",
                  "| metric | untraced | traced | traced − untraced |", "|---|---|---|---|"]
        for k, (v, unit) in e2e_traced.items():
            if k in base:
                lines.append(f"| {k} ({unit}) | {base[k]:.4g} | {v:.4g} | {v - base[k]:+.4g} |")
    else:
        lines.append(f"No untraced run of seed {seed} to compare with; run "
                     f"`--trace 0` with the same seed first.")
    path = os.path.join(out_dir, "reports", f"LAYERS-{workload}-s{seed}.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path

