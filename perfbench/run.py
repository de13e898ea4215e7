#!/usr/bin/env python3
"""The repo benchmark: one run of one workload in a fresh JVM.

Usage:
  python3 perfbench/run.py --workload <poll_prod|bulk_sync> --seed <n>
      --seconds <s> --trace <0|1>

Builds the engine from source when needed (perfbench/build.py), stages
the workload's generated inputs (perfbench/gen.py), runs
graft.perfbench.PerfMain on local[nproc], checks the outputs, and prints
one JSON line last: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. The whole record of the run, the per-layer
detail included, goes to .bench_out/<workload>_trace<0|1>.json.

Every run has the same phases: a cold pass over the fleet queries
(perfbench/fleet.json), the workload's set-up, its timed window, and
the output checks.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from metrics import MB, dur, median, ratio  # noqa: E402

# Dev hooks that change engine behaviour; a run under any of them would
# not measure the shipped code paths.
DEV_HOOKS = ["GRAFT_RDB_SWEEP", "GRAFT_CC_DEBUG", "GRAFT_MM_DECODER",
             "SPARK_GRAFT_STREAM_CK_DIR"]

PROD_USERS = 37678  # production user-table rows (BASELINE.md)
WORKLOADS = {
    # open loop at a fixed offered rate, 100-event cycles
    "poll_prod": dict(users=PROD_USERS, rate=6.0, warm=100, cap=100),
    # closed-loop drain of a pre-seeded backlog in full 10k-event cycles
    "bulk_sync": dict(users=20000, events=10000, cap=10000),
}
TAIL_P = 0.8
HEAP = "2g"
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat: the
    CPU time a shared host took away from this one while a run went."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def stage(workload, seed, seconds, input_dir):
    w = WORKLOADS[workload]
    if workload == "poll_prod":
        # the warm-up events, then the ones that come due in the window
        n = w["warm"] + int(w["rate"] * seconds)
        manifest = gen.stage(workload, seed, input_dir, w["users"], n,
                             rate=w["rate"], warm_events=w["warm"])
    else:
        manifest = gen.stage(workload, seed, input_dir, w["users"],
                             w["events"])
    manifest["fleet"] = gen.stage_fleet(seed, str(Path(input_dir, "fleet")))
    return manifest


def run_jvm(workload, seed, seconds, trace, input_dir, work):
    out = work / "raw.json"
    fleet = json.loads((HERE / "fleet.json").read_text())["queries"]
    env = dict(os.environ)
    # drain checkpoints stay inside the checkout, like every other write
    env["SPARK_GRAFT_STREAM_CK_DIR"] = str(work / "ck")
    (work / "ck").mkdir()
    (work / "tmp").mkdir()
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", build.classpath(), "graft.perfbench.PerfMain",
            workload, str(seed), str(seconds), str(trace), str(nproc()),
            str(input_dir), str(work), str(out), ",".join(fleet)]
    launch_ms = time.time() * 1000
    steal0, total0 = cpu_ticks()
    with open(work / "jvm.log", "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           cwd=work, env=env, timeout=JVM_TIMEOUT_S)
    exit_ms = time.time() * 1000
    steal1, total1 = cpu_ticks()
    if r.returncode != 0 or not out.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"JVM exited with {r.returncode}\n{tail}")
    raw = json.loads(out.read_text())
    raw["launch_ms"], raw["exit_ms"] = launch_ms, exit_ms
    raw["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    return raw


def fleet_check(raw, fleet_dir):
    """Each query's count against its DuckDB oracle on the same tables."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(Path(fleet_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                    f"read_parquet('{p}')")
    rows = []
    for q in raw["fleet"]:
        expected = None
        if q["oracle_sql"]:
            expected = con.sql(
                f"SELECT count(*) FROM ({q['oracle_sql']}) t").fetchone()[0]
        rows.append({"query": q["query"], "module": q["module"],
                     "ms": q["ms"], "count": q["count"], "expected": expected,
                     "ok": not q["error"] and q["count"] == expected})
    con.close()
    return rows


def spans_named(raw, name, parent_name=None):
    by_id = {s["id"]: s for s in raw["spans"]}
    return [s for s in raw["spans"] if s["name"] == name and (
        parent_name is None or
        by_id.get(s["parent"], {}).get("name") == parent_name)]


def end_to_end(raw, gen_s):
    one = lambda n: spans_named(raw, n)[0]  # noqa: E731
    timed = [c for c in raw["cdc_calls"] if c["timed"]]
    lags = raw["lags_ms"]
    cycles = raw["cdc_calls"]
    failed = sum(c["failed"] for c in cycles) + \
        sum(1 for q in raw["fleet"] if q["error"])
    attempted = len(cycles) + len(raw["fleet"])
    setup_ms = (one("Bench.session")["end_ms"] - raw["launch_ms"]) + \
        dur(one("Bench.setup"))
    return {
        "setup_s": (gen_s * 1000 + setup_ms) / 1000,
        "lag_p50_ms": metrics.quantile(lags, 0.5),
        f"lag_p{TAIL_P * 100:g}_ms": metrics.tail(lags, TAIL_P),
        "load_s": dur(one("Bench.load")) / 1000,
        "cdc_events_per_s": sum(c["verdicted"] for c in timed) /
        (sum(c["busy_ms"] for c in timed) / 1000),
        "fleet_s": dur(one("Bench.fleet")) / 1000,
        "store_mb": raw["store_bytes"] / MB,
        "rss_peak_mb": raw["rss_peak_mb"],
        "success_ratio": 1 - failed / attempted,
    }, attempted, failed


UNITS = {"setup_s": "s", "lag_p50_ms": "ms", f"lag_p{TAIL_P * 100:g}_ms": "ms",
         "load_s": "s", "cdc_events_per_s": "events/s", "fleet_s": "s",
         "store_mb": "MB", "rss_peak_mb": "MB", "success_ratio": "ratio"}


def per_layer(raw, fleet_modules):
    L = metrics.Layers(raw)
    out, ratios = {}, {}
    executor = ["exec_run_ms", "exec_cpu_ms", "gc_ms", "scan_mb",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb"]

    calls = spans_named(raw, "CdcStream.run", "Bench.window")
    timed = [c for c in raw["cdc_calls"] if c["timed"]]
    roll = L.rollup(calls,
                    ["jobs", "stages", "tasks", "driver_gap_ms"] + executor)
    cap = timed[0]["cap"]
    events = sum(c["verdicted"] for c in timed)
    fill = ratio(events, len(timed) * cap)
    ratios["CdcStream.fill_ratio"] = fill
    status = raw["checks"]["status_counts"]
    out.update({
        "CdcStream.calls": len(calls),
        "CdcStream.run_p50_ms": median([dur(c) for c in calls]),
        **{f"CdcStream.{k}": v for k, v in roll.items()},
        "CdcStream.events": events,
        "CdcStream.fill_ratio": fill["value"],
        "CdcStream.backlog_max": max(c["backlog"] for c in timed),
        "CdcStream.sleeps": sum(c["sleeps"] for c in timed),
        "CdcStream.source_errors": raw["source_errors"],
        **{f"CdcStream.status_{s}": status.get(s, 0) for s in "SWEF"},
    })

    saves = spans_named(raw, "Directory.save", "Bench.window")
    rec = [s for s in raw["saves"] if s["timed"]]
    roll = L.rollup(saves, ["jobs", "tasks"])
    bpe = ratio(sum(s["bytes"] for s in rec), events)
    ratios["Directory.bytes_per_event"] = bpe
    out.update({
        "Directory.save_calls": len(saves),
        "Directory.save_p50_ms": median([dur(s) for s in saves]),
        "Directory.jobs": roll["jobs"],
        "Directory.tasks": roll["tasks"],
        "Directory.files_per_version": median([s["files"] for s in rec]),
        "Directory.version_mb": median([s["bytes"] / MB for s in rec]),
        "Directory.bytes_per_event": bpe["value"],
    })

    load = spans_named(raw, "InitialLoad.run", "Bench.load")
    roll = L.rollup(load, ["jobs", "stages", "tasks", "driver_gap_ms",
                           "exec_run_ms", "exec_cpu_ms", "shuffle_write_mb",
                           "spill_mb", "gc_ms"])
    out["InitialLoad.busy_ms"] = dur(load[0])
    out.update({f"InitialLoad.{k}": v for k, v in roll.items()})

    entry = [s for s in raw["spans"] if s["name"].startswith("SparkEntry.")]
    for m in fleet_modules:
        out[f"SparkEntry.{m}_ms"] = sum(dur(s) for s in entry
                                        if s["name"] == f"SparkEntry.{m}")
    rows = [L.per_call(s) for s in entry]
    for k in ["jobs", "stages", "tasks", "driver_gap_ms", "exec_cpu_ms",
              "shuffle_write_mb", "spill_mb"]:
        out[f"SparkEntry.{k}"] = sum(r[k] for r in rows)
    out["SparkEntry.failed"] = sum(1 for q in raw["fleet"] if q["error"])
    return out, ratios


PER_LAYER_UNITS = {
    "calls": "count", "jobs": "count", "stages": "count", "tasks": "count",
    "events": "count", "backlog_max": "count", "sleeps": "count",
    "source_errors": "count", "save_calls": "count", "failed": "count",
    "files_per_version": "count", "fill_ratio": "ratio",
    "bytes_per_event": "B/event"}


def layer_unit(name):
    short = name.split(".", 1)[1]
    if short.startswith("status_"):
        return "count"
    if short in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[short]
    return "MB" if short.endswith("_mb") else "ms"


def self_time_by_name(raw):
    st = metrics.self_times(raw["spans"])
    out = {}
    for s in raw["spans"]:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


HARNESS = ("Bench.", "Source.")


def accounting(selfs, jvm_wall_ms, bench_run_ms):
    """Where the JVM's wall time went: self time in the measured layers'
    spans, self time in the harness's own spans (Bench.*, Source.*), and
    the time outside every span (JVM start before the first span, and
    shutdown). The three add up to the wall time; the harness and
    outside shares are what the layer figures do not explain."""
    harness = sum(v for k, v in selfs.items() if k.startswith(HARNESS))
    layers = sum(v for k, v in selfs.items() if not k.startswith(HARNESS))
    outside = jvm_wall_ms - bench_run_ms
    return {
        "jvm_wall_ms": jvm_wall_ms,
        "layer_self_ms": layers,
        "harness_self_ms": harness,
        "outside_spans_ms": outside,
        "layer_share": ratio(layers, jvm_wall_ms),
        "harness_share": ratio(harness, jvm_wall_ms),
        "outside_share": ratio(outside, jvm_wall_ms),
        "harness_self_ms_by_span": {k: v for k, v in selfs.items()
                                    if k.startswith(HARNESS)},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    hooks = [v for v in DEV_HOOKS if v in os.environ]
    if hooks:
        sys.exit(f"refusing to run: dev hook {', '.join(hooks)} is set")

    build.build()
    t0 = time.time()
    work = ROOT / ".bench_run" / \
        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        input_dir = work / "input"
        manifest = stage(a.workload, a.seed, a.seconds, input_dir)
        gen_s = time.time() - t0
        raw = run_jvm(a.workload, a.seed, a.seconds, a.trace, input_dir,
                      work)
        fleet_rows = fleet_check(raw, input_dir / "fleet")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, attempted, failed = end_to_end(raw, gen_s)
    correct = bool(raw["checks"]["ok"]) and all(r["ok"] for r in fleet_rows)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "correct": correct, "attempted": attempted,
        "failed": failed, "end_to_end": e2e, "inputs": manifest,
        "checks": raw["checks"], "fleet": fleet_rows, "env": raw["env"],
        "lag_samples": len(raw["lags_ms"]),
        "lag_tail_beyond": metrics.beyond(len(raw["lags_ms"]), TAIL_P),
        "cdc_calls": raw["cdc_calls"],
        "jvm_wall_ms": raw["exit_ms"] - raw["launch_ms"],
        "cpu_steal_share": raw["cpu_steal_share"],
        "build": build.STAMP.read_text(),
    }
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    fleet_modules = sorted({q["module"] for q in raw["fleet"]})
    if a.trace:
        layers, ratios = per_layer(raw, fleet_modules)
        selfs = self_time_by_name(raw)
        root = spans_named(raw, "Bench.run")[0]
        record["per_layer"] = layers
        record["ratios"] = ratios
        record["self_ms_by_span"] = selfs
        record["span_actions"] = {s["name"]: s["action"]
                                  for s in raw["spans"] if s["action"]}
        record["accounting"] = accounting(selfs, record["jvm_wall_ms"],
                                          dur(root))
        # overhead against the last untraced run of the same build
        untraced = out_dir / f"{a.workload}_trace0.json"
        base = json.loads(untraced.read_text()) if untraced.is_file() else {}
        if base.get("build") == record["build"]:
            record["tracing_overhead"] = {
                k: {"traced": v, "untraced": base["end_to_end"][k],
                    "share": v / base["end_to_end"][k] - 1}
                for k, v in e2e.items()}
        result = {k: {"value": v, "unit": layer_unit(k)}
                  for k, v in layers.items()}
    else:
        result = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    (out_dir / f"{a.workload}_trace{a.trace}.json").write_text(
        json.dumps(record, indent=1, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
