#!/usr/bin/env python3
"""Repo benchmark: one run of one workload, end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/target and caches the
classpath under .bench_build/; later runs reuse it while the sources are
unchanged. Each run generates its inputs from --seed, starts one JVM that
sets up, warms up and runs the timed closed loop, then checks every
operation's output here (DuckDB oracles for queries, the expectation
model for daily_etl). The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and keeps the trace under .bench_build/traces/ for perfbench/layers.py).
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_etl  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

DEADLINE_S = 170
# The analyst read surface (stock price queries over the warehouse).
ANALYST = ("q01_weekly_bars q08_region_revenue q12_route q14_summary_stats "
           "q20_json_extract q22_window_rank q36_sql_surface q320_vwap").split()
# One corpus kernel per engine module that runs Spark jobs of its own:
# the suffix-array build (SuffixArray), exact-dup clusters (Dedup), the
# top eigenvector's mass (Similarity), naive Bayes (Text) and a
# preference stream (Streams), the cheapest query of each module that
# does, counting its DuckDB oracle.
KERNELS = ("q356_suffix_array q50_dup_clusters q383_top_component_mass "
           "q255_naive_bayes q419_preference_stream").split()

# name -> inputs and loop shape. Every operation runs at least
# `min_passes` times in the timed phase; run.py keeps its fastest run.
# daily_etl makes one day per pass; `days` daily drops follow the
# backfill, as many as a run can reach.
WORKLOADS = {
    "daily_etl": {"symbols": 12, "days": 3, "min_passes": 1, "markets": ["tw", "us"]},
    "warehouse_queries": {"sf": 0.01, "queries": ANALYST + KERNELS, "min_passes": 2},
}
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "peak_rss_mb": "MB", "backfill_s": "s", "rows_per_s": "1/s",
             "store_bytes_per_row": "B"}
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ----------------------------------------------------------------

def source_stamp(root):
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if f.endswith((".scala", ".sbt", ".properties")) and "target" not in d)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile engine + harness once per source state; -> classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as f:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (see .bench_build/build.log)")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---- one run --------------------------------------------------------------

def run_jvm(classpath, work, args, deadline):
    # fixed heap and young generation, so VmHWM follows live data rather
    # than the collector's sizing decisions
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn768m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness JVM timed out")
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness JVM exited with {proc.returncode}")
    with open(os.path.join(work, "out", "result.json")) as f:
        return json.load(f)


def tail(values):
    """(percentile, value): the highest of p99/p95/p90/p75 with at least
    ten samples beyond it, else the maximum."""
    vs = sorted(values)
    for p in (99, 95, 90, 75):
        if len(vs) * (100 - p) / 100.0 >= 10:
            return p, statistics.quantiles(vs, n=100, method="inclusive")[p - 1]
    return 100, vs[-1]


def check_queries(res, work, data):
    capture = {n: w["capture"] for n, w in res["warmup"].items()}
    verdict = oracle.check(data, os.path.join(work, "out"), capture)
    ops = res["ops"]
    for o in ops:
        want = capture.get(o["name"], {}).get("digest")
        o["ok"] = (o["error"] is None and verdict.get(o["name"]) == "OK"
                   and o["digest"] == want)
    return verdict


def check_daily(res, fx):
    model = gen_etl.Model(fx)
    ops = [res["backfill"]] + res["ops"]
    problems = []
    for o in ops:
        op = int(o["name"][3:])
        want = model.run(op)
        o["ok"] = o["error"] is None and daily_matches(o, want, problems)
    store_want = model.store_digest()
    for m, st in res["stores"].items():
        if [st["rows"], st["checksum"] % (1 << 64)] != [store_want[m][0],
                                                        store_want[m][1] % (1 << 64)]:
            problems.append(f"store {m}: {st['rows']} rows vs {store_want[m][0]} expected")
    if any(p.startswith("store") for p in problems):
        for o in ops:
            o["ok"] = False
    return problems


def daily_matches(o, want, problems):
    got = {s["market"].lower(): s for s in o["extra"]["summaries"]}
    ok = True
    for m, w in want.items():
        g = got.get(m, {})
        for k in ("success", "totalRows", "nRejected", "endDate", "ranSync", "expected"):
            if g.get(k) != w[k]:
                problems.append(f"{o['name']} {m}.{k}: {g.get(k)} vs {w[k]}")
                ok = False
    # the rendered report lists the first rejections and the count of the rest
    expect = {r for w in want.values() for r in w["rejections"]}
    block = o["extra"]["report"].split("Failures:\n", 1)[-1].splitlines()
    shown = [ln.strip() for ln in block if ln.strip() and not ln.strip().startswith(
        ("...and", "(no failures)"))]
    more = [int(ln.split()[1]) for ln in block if ln.strip().startswith("...and")]
    if not set(shown) <= expect or len(shown) + sum(more) != len(expect):
        problems.append(f"{o['name']} report failures {shown} +{more} vs {sorted(expect)}")
        ok = False
    return ok


def fastest(ops):
    """{operation: its fastest successful run} (ops repeat once per pass)."""
    best = {}
    for o in ops:
        if o["ok"]:
            best[o["name"]] = min(best.get(o["name"], o["dur_s"]), o["dur_s"])
    return best


def end_to_end(res, fx_info, setup_s):
    """-> (metrics, info)."""
    ops = res["ops"]
    best = fastest(ops)
    good = sorted(best.values())
    p, tail_v = tail(good) if good else (100, float("nan"))
    m = {
        "setup_s": setup_s,
        "wall_s": min(res["pass_walls"]),
        "op_p50_s": statistics.median(good) if good else float("nan"),
        "op_tail_s": tail_v,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    if res["workload"] == "daily_etl":
        m["backfill_s"] = res["backfill"]["dur_s"]
        rows = sum(fx_info["rows"][int(o["name"][3:])] for o in ops)
        m["rows_per_s"] = rows / res["timed_wall_s"]
        live = sum(s["rows"] for s in res["stores"].values())
        m["store_bytes_per_row"] = sum(s["bytes"] for s in res["stores"].values()) / live
    else:
        scanned = {n: w["input_records"] for n, w in res["warmup"].items()}
        m["backfill_s"] = sum(w["dur_s"] for w in res["warmup"].values())
        m["rows_per_s"] = sum(scanned[o["name"]] for o in ops) / res["timed_wall_s"]
        m["store_bytes_per_row"] = fx_info["bytes"] / fx_info["rows"]
    info = {"tail_percentile": p, "n_ops": len(good), "fastest_s": best,
            "pass_walls_s": res["pass_walls"],
            "error_rate": sum(1 for o in ops if not o["ok"]) / max(1, len(ops))}
    return m, info


def execute(workload, seed, seconds, trace, spec, inject_faults=False):
    """One run -> (result line, full record); raises SystemExit on failure."""
    deadline = time.time() + DEADLINE_S
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the root of a checkout: the engine sources are missing")
    build_dir = os.path.join(root, ".bench_build")
    classpath = build(root, build_dir)
    work = os.path.join(build_dir, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        t0 = time.time()
        jargs = ["--workload", workload, "--data", data, "--out", os.path.join(work, "out"),
                 "--seconds", str(seconds), "--seed", str(seed), "--trace", str(trace),
                 "--min-passes", str(spec["min_passes"])]
        if workload == "daily_etl":
            fx = gen_etl.generate(data, seed, spec["symbols"], spec["days"], spec["markets"])
            with open(os.path.join(data, "asof.txt"), "w") as f:
                f.write("\n".join(d.isoformat() for d in fx.as_of) + "\n")
            fx_info = {"rows": [gen_etl.input_rows(fx, i) for i in range(len(fx.drops))],
                       "files": [sum(len(fs) for fs in d.values()) for d in fx.drops]}
            jargs += ["--markets", ",".join(spec["markets"])]
        else:
            gen_tables.generate(data, seed, spec["sf"])
            fx_info = oracle.table_sizes(data)
            jargs += ["--queries", ",".join(spec["queries"])]
            if inject_faults:
                jargs.append("--inject-faults")
        gen_s = time.time() - t0
        launch_ms = time.time() * 1000
        res = run_jvm(classpath, work, jargs, deadline)
        setup_s = gen_s + (res["first_op_ms"] - launch_ms) / 1000.0

        if workload == "daily_etl":
            problems = check_daily(res, fx)
        else:
            verdict = check_queries(res, work, data)
            problems = [f"{q}: {v}" for q, v in sorted(verdict.items()) if v != "OK"]
        for p in problems[:20]:
            print(f"perfbench: check: {p}", file=sys.stderr)

        ops = res["ops"]
        failed = sum(1 for o in ops if not o["ok"])
        e2e, info = end_to_end(res, fx_info, setup_s)
        record = {"workload": workload, "seed": seed, "trace": trace, "metrics": e2e,
                  "run_s": time.time() - t0, **info}
        if trace:
            per_layer = layers.metrics(res, fx_info)
            metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in per_layer.items()}
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            with open(os.path.join(build_dir, "traces", f"{workload}-seed{seed}.json"), "w") as f:
                json.dump({"record": record, "fixture": fx_info, "result": res}, f)
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
            os.makedirs(os.path.join(build_dir, "runs"), exist_ok=True)
            with open(os.path.join(build_dir, "runs", f"{workload}-seed{seed}.json"), "w") as f:
                json.dump(record, f)
        line = {"correct": failed == 0 and not problems, "attempted": len(ops),
                "failed": failed, "metrics": metrics}
        return line, {"record": record, "result": res, "problems": problems}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    line, full = execute(a.workload, a.seed, a.seconds, a.trace, WORKLOADS[a.workload])
    rec = full["record"]
    print(f"perfbench: {a.workload} seed={a.seed} ops={line['attempted']} "
          f"failed={line['failed']} error_rate={rec['error_rate']:.4f} "
          f"op_tail=p{rec['tail_percentile']} n_ops={rec['n_ops']} "
          f"passes={full['result']['passes']} run_s={rec['run_s']:.1f}")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
