"""Metrics derived from one harness run (`run.json`).

End-to-end metrics come from the execution timings of an untraced run.
Per-layer metrics come from the span tree of a traced run:

    pass > query > build | action > job > stage
    pass > release            (CacheScope.release after the query)
    build | action > sql      (one span per SQL action: Catalyst, scans)

A span's self time is its duration minus the part of it that its
children cover. All per-layer values are per warm pass (the median over
the run's traced warm passes) unless the name says cold.
"""
import statistics

MB = 1024.0 * 1024.0

END_TO_END = [
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("pass_s", "s"),
    ("query_p50_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
]

PER_LAYER = [
    ("operators.build_s", "s"),
    ("operators.build_jobs", "count"),
    ("cachescope.cached_mb", "MB"),
    ("cachescope.release_s", "s"),
    ("cachescope.leftover_mb", "MB"),
    ("catalyst.plan_s", "s"),
    ("catalyst.actions", "count"),
    ("codegen.compile_s", "s"),
    ("codegen.compiles", "count"),
    ("codegen.cold_compile_s", "s"),
    ("codegen.cold_compiles", "count"),
    ("driver.gap_s", "s"),
    ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"),
    ("tables.scan_rows", "rows"),
    ("executor.task_run_s", "s"),
    ("executor.task_cpu_s", "s"),
    ("executor.gc_s", "s"),
    ("executor.deser_s", "s"),
    ("executor.shuffle_write_mb", "MB"),
    ("executor.shuffle_read_mb", "MB"),
    ("executor.spill_mb", "MB"),
    ("executor.core_util", "ratio"),
    ("self.build_s", "s"),
    ("self.action_s", "s"),
    ("self.job_s", "s"),
    ("self.stage_s", "s"),
    ("trace.overhead_pct", "%"),
    ("check.error_rate", "ratio"),
]


def _clip(intervals, lo, hi):
    return sorted((max(a, lo), min(b, hi)) for a, b in intervals
                  if a is not None and b is not None and min(b, hi) > max(a, lo))


def covered_ms(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals` (merge, then sum)."""
    total, cur = 0.0, None
    for a, b in _clip(intervals, lo, hi):
        if cur and a <= cur[1]:
            cur[1] = max(cur[1], b)
        else:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
    return total + (cur[1] - cur[0] if cur else 0.0)


def uncovered_ms(intervals, lo, hi):
    """Length of [lo, hi] covered by no interval (a cursor sweep over the gaps)."""
    gap, cursor = 0.0, lo
    for a, b in _clip(intervals, lo, hi):
        if a > cursor:
            gap += a - cursor
        cursor = max(cursor, b)
    return gap + max(hi - cursor, 0.0)


def _pass_time_s(execs):
    return sum(e["t3"] - e["t0"] for e in execs) / 1e3


def _by_pass(run):
    out = {}
    for e in run["executions"]:
        out.setdefault(e["pass"], []).append(e)
    return out


def end_to_end(run):
    """(metrics, notes) from an untraced run."""
    by_pass = _by_pass(run)
    warm = [p["index"] for p in run["passes"] if not p["cold"]]
    warm_execs = [e for i in warm for e in by_pass[i]]
    walls = [(e["t2"] - e["t0"]) / 1e3 for e in warm_execs]
    values = {
        "setup_s": statistics.median(run["setup_s"]),
        "cold_pass_s": _pass_time_s(by_pass[0]),
        "pass_s": statistics.median(_pass_time_s(by_pass[i]) for i in warm),
        "query_p50_s": statistics.median(walls),
        "cpu_s": statistics.median(sum(e["cpu_s"] for e in by_pass[i])
                                   for i in warm),
        "peak_rss_mb": run["peak_rss_mb"],
    }
    per_query = {}
    for e in by_pass[0] + warm_execs:
        per_query.setdefault(e["query"], []).append(
            round((e["t2"] - e["t0"]) / 1e3, 4))
    notes = {"warm_passes": len(warm), "query_p50_samples": len(walls),
             "setup_samples": len(run["setup_s"]), "setup_s": run["setup_s"],
             "query_s_cold_then_warm": per_query}
    return values, notes


def _dur(s):
    return s["end_ms"] - s["start_ms"]


def _layers_of_pass(pid, children, execs, cores):
    """Per-layer values of one traced pass, plus per-query consistency rows."""
    queries = [s for s in children.get(pid, []) if s["kind"] == "query"]
    releases = [s for s in children.get(pid, []) if s["kind"] == "release"]
    phases = [c for q in queries for c in children.get(q["id"], [])
              if c["kind"] in ("build", "action")]
    jobs = [j for p in phases + releases for j in children.get(p["id"], [])
            if j["kind"] == "job"]
    stages = [s for j in jobs for s in children.get(j["id"], [])
              if s["kind"] == "stage"]
    sqls = [x for p in queries + phases for x in children.get(p["id"], [])
            if x["kind"] == "sql"]

    def job_iv(parent_ids):
        return [(j["start_ms"], j["end_ms"]) for j in jobs
                if j["parent"] in parent_ids]

    gap_ms, rows = 0.0, []
    for q in queries:
        ids = {c["id"] for c in children.get(q["id"], [])}
        iv = job_iv(ids)
        gap = uncovered_ms(iv, q["start_ms"], q["end_ms"])
        union = covered_ms(iv, q["start_ms"], q["end_ms"])
        gap_ms += gap
        rows.append({"query": q["name"], "wall_ms": _dur(q), "gap_ms": gap,
                     "union_ms": union})
    builds = [p for p in phases if p["kind"] == "build"]
    actions = [p for p in phases if p["kind"] == "action"]

    def self_ms(parents, kind):
        return sum(uncovered_ms([(c["start_ms"], c["end_ms"])
                                 for c in children.get(p["id"], [])
                                 if c["kind"] == kind],
                                p["start_ms"], p["end_ms"]) for p in parents)

    stage = lambda k: sum(s.get(k, 0) for s in stages)
    build_ids = {b["id"] for b in builds}
    run_s = stage("run_ms") / 1e3
    wall_s = _pass_time_s(execs)
    v = {
        "operators.build_s": sum(_dur(b) for b in builds) / 1e3,
        "operators.build_jobs": sum(1 for j in jobs if j["parent"] in build_ids),
        "cachescope.cached_mb": max((r["stored_before"] for r in releases),
                                    default=0) / MB,
        "cachescope.release_s": sum(_dur(r) for r in releases) / 1e3,
        "cachescope.leftover_mb": max((r["stored_after"] for r in releases),
                                      default=0) / MB,
        "catalyst.plan_s": sum(x["plan_ms"] for x in sqls) / 1e3,
        "catalyst.actions": len(sqls),
        "codegen.compile_s": sum(p["compile_ns"] for p in phases) / 1e9,
        "codegen.compiles": sum(p["compiles"] for p in phases),
        "driver.gap_s": gap_ms / 1e3,
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": stage("tasks"),
        "tables.scan_rows": sum(x["scan_rows"] for x in sqls),
        "executor.task_run_s": run_s,
        "executor.task_cpu_s": stage("cpu_ns") / 1e9,
        "executor.gc_s": stage("gc_ms") / 1e3,
        "executor.deser_s": stage("deser_ms") / 1e3,
        "executor.shuffle_write_mb": stage("shuffle_write_bytes") / MB,
        "executor.shuffle_read_mb": stage("shuffle_read_bytes") / MB,
        "executor.spill_mb": stage("spill_bytes") / MB,
        "executor.core_util": run_s / (wall_s * cores) if wall_s else 0.0,
        "self.build_s": self_ms(builds, "job") / 1e3,
        "self.action_s": self_ms(actions, "job") / 1e3,
        "self.job_s": self_ms(jobs, "stage") / 1e3,
        "self.stage_s": sum(_dur(s) for s in stages
                            if s["start_ms"] is not None
                            and s["end_ms"] is not None) / 1e3,
    }
    return v, rows


def consistency_violations(rows, tolerance_ms=2.0):
    """Queries whose driver gap plus job union differs from their wall time."""
    return [r for r in rows
            if abs(r["gap_ms"] + r["union_ms"] - r["wall_ms"]) > tolerance_ms]


def per_layer(run, cores, error_rate):
    """(metrics, consistency rows) from a traced run."""
    children = {}
    for s in run["spans"]:
        children.setdefault(s["parent"], []).append(s)
    by_pass = _by_pass(run)
    per_pass, rows = {}, []
    for p in run["passes"]:
        if p["traced"]:
            per_pass[p["index"]], r = _layers_of_pass(
                f"p{p['index']}", children, by_pass[p["index"]], cores)
            rows += r
    warm_traced = [i for i in per_pass if i != 0]
    values = {k: statistics.median(per_pass[i][k] for i in warm_traced)
              for k in per_pass[warm_traced[0]]}
    values["codegen.cold_compile_s"] = per_pass[0]["codegen.compile_s"]
    values["codegen.cold_compiles"] = per_pass[0]["codegen.compiles"]
    untraced = [_pass_time_s(by_pass[p["index"]]) for p in run["passes"]
                if not p["cold"] and not p["traced"]]
    traced = [_pass_time_s(by_pass[i]) for i in warm_traced]
    values["trace.overhead_pct"] = 100.0 * (
        statistics.median(traced) / statistics.median(untraced) - 1.0)
    values["check.error_rate"] = error_rate
    return {k: values[k] for k, _ in PER_LAYER}, rows
