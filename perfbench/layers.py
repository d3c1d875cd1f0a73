#!/usr/bin/env python3
"""Per-layer view of a traced benchmark run.

As a library, `metrics(result, fixture)` turns the harness's trace of one
run into the per-layer metrics that run.py prints with --trace 1. All
sums are per pass of the workload (a pass is every query once, or one
day of daily_etl), so runs of different length compare.

As a script it reads the traces that `run.py --trace 1` left under
.bench_build/traces/ and prints, per workload, each layer's self time,
its counts and its share of the timed wall, the time no layer accounts
for, and the tracer's overhead against an untraced run of the same seed
when .bench_build/runs/ holds one:

    python3 perfbench/layers.py [trace.json ...]
"""
import glob
import json
import os
import sys

MODULES = ["Tables", "Pipeline", "Quality", "Resample", "Merge", "Snapshot", "Report",
           "Lifecycle", "SuffixArray", "Dedup", "Similarity", "Text", "Streams", "other"]
QUERY_STATS = ["build_s", "plan_s", "exec_s", "jobs", "stages", "tasks", "job_wall_s",
               "driver_gap_s", "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
               "persisted_rdds_left", "cached_bytes_left"]
LAYER_STATS = ["jobs", "job_wall_s", "executor_run_s", "shuffle_write_bytes"]
# self-time buckets: job time by module, then the driver's own time
SELF = [f"self.{m}_s" for m in MODULES] + [
    "self.driver_build_s", "self.driver_gap_s", "self.harness_s", "self.unattributed_s"]
STORE = ["ingest.files", "ingest.rows", "store.files", "store.bytes", "store.bytes_written",
         "store.partitions_rewritten", "lifecycle.job_overlap"]
TRACE = ["trace.wall_s", "trace.overhead_s"]


def names():
    """Every per-layer metric, in report order."""
    return ([f"query.{s}" for s in QUERY_STATS]
            + [f"layer.{m}.{s}" for m in MODULES for s in LAYER_STATS]
            + SELF + STORE + TRACE)


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name == "store.bytes":
        return "B"
    if name == "lifecycle.job_overlap":
        return "ratio"
    if name == "ingest.rows":
        return "rows"
    return "count"


def union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _clip(j, lo, hi):
    end = j["end"] if j["end"] >= 0 else hi
    return max(j["start"], lo), min(end, hi)


def metrics(res, fixture):
    tr = res["trace"]
    ops = res["ops"]
    passes = res["passes"]
    stages = {}
    for s in tr["stages"]:
        stages.setdefault(s["id"], []).append(s)
    jobs = sorted(tr["jobs"], key=lambda j: j["start"])
    out = {n: 0.0 for n in names()}
    overlaps = []
    for o in ops:
        lo, hi = o["start_ms"], o["end_ms"]
        build_end = lo + o["build_s"] * 1000.0
        mine = [j for j in jobs if lo <= j["start"] <= hi]
        ivs = [_clip(j, lo, hi) for j in mine]
        exec_ivs = [(max(s, build_end), e) for s, e in ivs if e > build_end]
        job_wall = union_ms(ivs) / 1e3
        out["query.build_s"] += o["build_s"]
        out["query.plan_s"] += o["plan_s"] + sum(
            a["plan_s"] for a in tr["actions"] if lo <= a["t"] <= hi)
        out["query.exec_s"] += o["dur_s"] - o["build_s"]
        out["query.jobs"] += len(mine)
        out["query.job_wall_s"] += job_wall
        out["query.driver_gap_s"] += max(0.0, o["dur_s"] - o["build_s"] - union_ms(exec_ivs) / 1e3)
        out["query.persisted_rdds_left"] += o["rdds_left"]
        out["query.cached_bytes_left"] += o["bytes_left"]
        for j in mine:
            ss = [s for sid in j["stages"] for s in stages.get(sid, [])]
            agg = {
                "stages": len(ss), "tasks": sum(s["tasks"] for s in ss),
                "executor_run_s": sum(s["run_ms"] for s in ss) / 1e3,
                "executor_cpu_s": sum(s["cpu_ns"] for s in ss) / 1e9,
                "gc_s": sum(s["gc_ms"] for s in ss) / 1e3,
                "input_bytes": sum(s["input_bytes"] for s in ss),
                "shuffle_read_bytes": sum(s["shuffle_read"] for s in ss),
                "shuffle_write_bytes": sum(s["shuffle_write"] for s in ss),
                "spill_bytes": sum(s["spill"] for s in ss)}
            for k, v in agg.items():
                out[f"query.{k}"] += v
            m = j["module"]
            out[f"layer.{m}.jobs"] += 1
            out[f"layer.{m}.executor_run_s"] += agg["executor_run_s"]
            out[f"layer.{m}.shuffle_write_bytes"] += agg["shuffle_write_bytes"]
        for m in MODULES:
            out[f"layer.{m}.job_wall_s"] += union_ms(
                [iv for iv, j in zip(ivs, mine) if j["module"] == m]) / 1e3
        for k, v in self_times(o, mine, lo, hi, build_end).items():
            out[k] += v
        if res["workload"] == "daily_etl" and ivs:
            covered = union_ms(ivs)
            overlaps.append(sum(e - s for s, e in ivs) / covered if covered else 1.0)
    out["self.harness_s"] = res["timed_wall_s"] - sum(o["dur_s"] for o in ops)
    out["self.unattributed_s"] = res["timed_wall_s"] - sum(out[k] for k in SELF[:-1])
    out["trace.wall_s"] = res["timed_wall_s"]
    out["trace.overhead_s"] = tr["overhead_s"]
    if res["workload"] == "daily_etl":
        days = [int(o["name"][3:]) for o in ops]
        out["ingest.files"] = sum(fixture["files"][d] for d in days)
        out["ingest.rows"] = sum(fixture["rows"][d] for d in days)
        for o in ops:
            st = o["extra"].get("store") or {}
            out["store.bytes_written"] += st.get("bytes_written", 0)
            out["store.partitions_rewritten"] += st.get("partitions_rewritten", 0)
    # everything but the store's final size and the overlap ratio is per pass
    for k in out:
        out[k] /= passes
    if res["workload"] == "daily_etl":
        last = (ops[-1]["extra"].get("store") or {}) if ops else {}
        out["store.files"] = last.get("files", 0)
        out["store.bytes"] = last.get("bytes", 0)
        out["lifecycle.job_overlap"] = sum(overlaps) / len(overlaps) if overlaps else 1.0
    return out


def self_times(o, mine, lo, hi, build_end):
    """Split one op's wall into layers: each instant goes to the module of
    the most recently started running job, else to the driver (build
    phase, or the gap between jobs once the query executes)."""
    cuts = {lo, hi, min(max(build_end, lo), hi)}
    for j in mine:
        cuts.update(_clip(j, lo, hi))
    cuts = sorted(c for c in cuts if lo <= c <= hi)
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2.0
        live = [j for j in mine if j["start"] <= mid <= (j["end"] if j["end"] >= 0 else hi)]
        if live:
            k = f"self.{max(live, key=lambda j: j['start'])['module']}_s"
        elif mid < build_end:
            k = "self.driver_build_s"
        else:
            k = "self.driver_gap_s"
        out[k] = out.get(k, 0.0) + (b - a) / 1e3
    # ms-resolution job times vs the op's ns timer: the residue is stated
    # in self.unattributed_s rather than spread over layers
    return out


def report(path, untraced_dir):
    with open(path) as f:
        t = json.load(f)
    res, rec = t["result"], t["record"]
    m = metrics(res, t["fixture"])
    wall = m["trace.wall_s"]
    print(f"== {rec['workload']} seed={rec['seed']}  passes={res['passes']}  "
          f"wall/pass={wall:.3f}s  ops={len(res['ops'])}  error_rate={rec['error_rate']:.4f}")
    print(f"  {'layer':<26}{'self_s':>9}{'share':>8}{'jobs':>8}{'job_wall_s':>12}"
          f"{'exec_run_s':>12}{'shuffle_w_MB':>14}")
    for name in SELF:
        v = m[name]
        mod = name[5:-2]
        js = (f"{m[f'layer.{mod}.jobs']:8.1f}{m[f'layer.{mod}.job_wall_s']:12.3f}"
              f"{m[f'layer.{mod}.executor_run_s']:12.3f}"
              f"{m[f'layer.{mod}.shuffle_write_bytes'] / 1e6:14.2f}"
              if mod in MODULES else "")
        if v or mod in MODULES[:-1] and m.get(f"layer.{mod}.jobs"):
            print(f"  {mod:<26}{v:9.3f}{(v / wall if wall else 0):8.1%}{js}")
    if abs(m["self.unattributed_s"]) > 0.01 * wall:
        print(f"  !! {m['self.unattributed_s']:.3f}s of the wall is not attributed to a layer")
    for k in ["query." + s for s in QUERY_STATS] + STORE:
        if m[k]:
            print(f"  {k:<32}{m[k]:>16.4f}")
    print(f"  tracer callbacks: {m['trace.overhead_s']:.4f}s per pass "
          f"({m['trace.overhead_s'] / wall if wall else 0:.2%} of wall)")
    un = os.path.join(untraced_dir, f"{rec['workload']}-seed{rec['seed']}.json")
    if os.path.exists(un):
        with open(un) as f:
            walls = json.load(f)["pass_walls_s"]
        base = sum(walls) / len(walls)
        print(f"  traced wall per pass {wall:.3f}s vs untraced {base:.3f}s (same seed): "
              f"overhead {(wall - base) / base:+.1%}")
    # per query, the costliest first
    per = {}
    for o in res["ops"]:
        p = per.setdefault(o["name"], [0, 0.0, 0.0])
        p[0] += 1
        p[1] += o["dur_s"]
        p[2] += o["build_s"]
    print(f"  {'operation':<30}{'n':>4}{'mean_s':>9}{'build_s':>9}")
    for n, (c, d, b) in sorted(per.items(), key=lambda kv: -kv[1][1] / kv[1][0])[:15]:
        print(f"  {n:<30}{c:4d}{d / c:9.3f}{b / c:9.3f}")


def main(argv):
    build = os.path.join(os.getcwd(), ".bench_build")
    paths = argv or sorted(glob.glob(os.path.join(build, "traces", "*.json")))
    if not paths:
        print("no traces: run perfbench/run.py ... --trace 1 first", file=sys.stderr)
        return 1
    for p in paths:
        report(p, os.path.join(build, "runs"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
