#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload run in a closed loop with
one client, its answers checked, its metrics printed.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds the engine and the benchmark
(`perfbench/build.py`), starts one JVM with Spark at `local[<cpus>]`, and
reads the run record the JVM writes. The last line of standard output is
one JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. The lines before it name every metric of the workload with
its unit. The exit code is 0 only when every step succeeded and every
answer checked out. See `perfbench/README.md` for the workloads and what
each metric measures.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

HERE = Path(__file__).resolve().parent
REFERENCES = HERE / "references.json"
JVM_SECONDS = 170

# The operation types of each workload; the first is its headline
# operation, whose latency is `p50_ms` and whose Spark work the `exec.*`
# and `sql.*` metrics describe.
WORKLOADS = {
    "analytics": ("query",),
    "index-maintain": ("read", "insert", "erase"),
    "ann-serve": ("serve",),
}

END_TO_END = {"setup_s": "s", "p50_ms": "ms", "ops_per_s": "1/s"}

PER_LAYER = {
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.driver_gap_ms": "ms", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.input_bytes": "bytes", "exec.input_records": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "sql.executions": "count", "sql.analysis_ms": "ms", "sql.optimization_ms": "ms",
    "sql.planning_ms": "ms",
    "queries.build_ms": "ms", "queries.build_jobs": "count", "queries.exec_ms": "ms",
    "similarity.build_s": "s", "similarity.store_write_s": "s",
    "similarity.rows_read_per_result": "count", "similarity.recall_at_8": "ratio",
    "streaming.insert_p50_ms": "ms", "streaming.insert_jobs": "count",
    "streaming.insert_driver_gap_ms": "ms", "streaming.insert_bytes_written": "bytes",
    "similarity.erase_p50_ms": "ms", "similarity.erase_jobs": "count",
    "similarity.erase_driver_gap_ms": "ms", "similarity.erase_bytes_written": "bytes",
    "similarity.store_files": "count", "similarity.store_bytes_per_live_vector": "bytes",
    "sources.register_ms": "ms", "jvm.heap_peak_mb": "MB", "jvm.cpu_ms": "ms",
    "trace.overhead_pct": "%",
}

# The names the workloads' own end-to-end metrics go by in the lines before
# the result: (name, unit, end-to-end metric of the result line).
NAMED = {
    "analytics": [("pass_s", "s", None), ("query_p50_ms", "ms", "p50_ms")],
    "index-maintain": [("read_after_write_p50_ms", "ms", "p50_ms"),
                       ("insert_p50_ms", "ms", None), ("erase_p50_ms", "ms", None)],
    "ann-serve": [("serve_p50_ms", "ms", "p50_ms"), ("serve_qps", "1/s", "ops_per_s")],
}

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]


def run_jvm(args, cpus, run_dir):
    """Start the JVM side; return its run record. Raises on a crash."""
    work = run_dir / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = run_dir / "record.json"
    out.unlink(missing_ok=True)
    cmd = [build.java(), *JAVA_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'local'}", "-cp", build.classpath(),
           "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(HERE / "data"), "--work", str(work / "stores"), "--out", str(out),
           "--cpus", str(cpus)]
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_SECONDS)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if not out.exists():
        tail = log.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"the JVM exited with {code} and wrote no record:\n{tail}")
    record = json.loads(out.read_text())
    if record["fatal"]:
        raise RuntimeError(f"the run stopped: {record['fatal']}; errors: {record['errors']}")
    return record


def cpu_times():
    """The machine's cumulative busy and steal jiffies, or None off Linux."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def block_walls(steps):
    """Wall time of each timed block, keyed by block."""
    spans = {}
    for s in steps:
        lo, hi = spans.get(s["block"], (s["start_ms"], s["start_ms"]))
        spans[s["block"]] = (min(lo, s["start_ms"]), max(hi, s["start_ms"] + s["dur_ms"]))
    return {b: (hi - lo) / 1e3 for b, (lo, hi) in spans.items()}


def check_answers(record, rows_dir, refs):
    """Problems with the run's answers, as messages; empty when correct."""
    problems = [f"{e['phase']} step '{e['step']}' failed: {e['message']}" for e in record["errors"]]
    problems += [c["detail"] for c in record["checks"] if not c["ok"]]
    wl = record["workload"]
    if wl == "analytics":
        names = {p.stem for p in rows_dir.glob("*.txt")} | set(refs["analytics"])
        for name in sorted(names):
            path = rows_dir / f"{name}.txt"
            ref = refs["analytics"].get(name)
            if not path.exists():
                problems.append(f"{name}: no answer")
                continue
            lines = path.read_text(encoding="utf-8").split("\n")[:-1]
            if ref is None:
                rows, digest = stats.result_hash(lines)
                problems.append(f"{name}: no reference; this run gives {rows} rows, hash {digest}")
                continue
            if ref.get("surrogate_keys"):
                # surrogate keys are fresh uuids on every run: check the
                # count and that every key is distinct and present
                row = dict(zip(lines[0].split("\t"), map(int, lines[1].split("\t"))))
                got = (row["n_rows"], row["n_distinct_ids"], row["n_null_ids"], row["n_null_ts"])
                if got != (ref["rows"], ref["rows"], 0, 0):
                    problems.append(f"{name}: rows, distinct ids, null ids, null times = {got}")
                continue
            rows, digest = stats.result_hash(lines)
            if (rows, digest) != (ref["rows"], ref["hash"]):
                problems.append(f"{name}: {rows} rows, hash {digest}; expected {ref['rows']} rows, "
                                f"hash {ref['hash']}")
    else:
        floor = refs[wl]["recall_at_8_floor"]
        if record["recall_at_8"] < floor:
            problems.append(f"recall@8 {record['recall_at_8']:.4f} is below the floor {floor}")
    return problems


def metrics(record):
    """(end-to-end values, per-layer values, lines naming each metric)."""
    wl = record["workload"]
    kinds = WORKLOADS[wl]
    head = kinds[0]
    timed = [s for s in record["steps"] if s["phase"] == "timed"]
    plain = [s for s in timed if not s["traced"]]
    lat = {k: [s["dur_ms"] for s in plain if s["kind"] == k and s["ok"]] for k in kinds}
    walls = block_walls(plain)
    weight = record.get("queries_per_op", 1)
    done = sum(weight for s in plain if s["ok"])
    e2e = {"setup_s": stats.median(record["setup_s"]),
           "p50_ms": stats.median(lat[head]),
           "ops_per_s": done / sum(walls.values()) if walls else 0.0}

    named = {"pass_s": stats.median(list(walls.values())),
             "query_p50_ms": e2e["p50_ms"], "read_after_write_p50_ms": e2e["p50_ms"],
             "serve_p50_ms": e2e["p50_ms"], "serve_qps": e2e["ops_per_s"],
             "insert_p50_ms": stats.median(lat.get("insert", [])),
             "erase_p50_ms": stats.median(lat.get("erase", []))}
    lines = [f"{wl}  {n} = {named[n]:.6g} {u}" + (f"  [{m} in the result line]" if m else "")
             for n, u, m in NAMED[wl]]
    lines.append(f"{wl}  setup_s = {e2e['setup_s']:.6g} s  (median of {len(record['setup_s'])} "
                 f"set-ups: {', '.join(f'{x:.3f}' for x in record['setup_s'])}; session start "
                 f"{record['session_start_s']:.3f} s)")
    lines.append(f"{wl}  error_rate = {record['failed'] / max(1, record['attempted']):.6g}  "
                 f"({record['failed']} failed of {record['attempted']} attempted)")
    lines.append(f"{wl}  ops_per_s = {e2e['ops_per_s']:.6g} 1/s  ({done} completed in "
                 f"{sum(walls.values()):.3f} s)")
    for k in kinds:
        tail = stats.tail_percentile(lat[k])
        if tail:
            lines.append(f"{wl}  {k}_p{tail[0]}_ms = {tail[1]:.6g} ms  (n = {len(lat[k])})")

    ops = stats.per_op(record)
    setup = [s for s in record["steps"] if s["phase"] == "setup" and s["ok"]]

    def setup_med(kinds_, scale):
        per_rep = {}
        for s in setup:
            if s["kind"] in kinds_:
                per_rep[s["rep"]] = per_rep.get(s["rep"], 0.0) + s["dur_ms"] / scale
        return stats.median(list(per_rep.values()))

    def m(kind, key):
        return stats.mean_of(ops, kind, key)

    answers = record.get("answers_per_op", 0)
    layer = {
        "exec.jobs": m(head, "jobs"), "exec.stages": m(head, "stages"),
        "exec.tasks": m(head, "tasks"), "exec.driver_gap_ms": m(head, "driver_gap_ms"),
        "exec.task_run_ms": m(head, "task_run_ms"), "exec.task_cpu_ms": m(head, "task_cpu_ms"),
        "exec.gc_ms": m(head, "gc_ms"), "exec.input_bytes": m(head, "input_bytes"),
        "exec.input_records": m(head, "input_records"),
        "exec.shuffle_write_bytes": m(head, "shuffle_write_bytes"),
        "exec.spill_bytes": m(head, "spill_bytes"),
        "sql.executions": m(head, "sql_executions"), "sql.analysis_ms": m(head, "analysis_ms"),
        "sql.optimization_ms": m(head, "optimization_ms"),
        "sql.planning_ms": m(head, "planning_ms"),
        "queries.build_ms": m("query", "queries.build.ms"),
        "queries.build_jobs": m("query", "queries.build.jobs"),
        "queries.exec_ms": m("query", "exec.write.ms"),
        # the first set-up builds the graph; the later ones resume it
        "similarity.build_s": next((s["dur_ms"] / 1e3 for s in setup
                                    if s["kind"] == "similarity.buildDurable"), 0.0),
        "similarity.store_write_s": setup_med({"similarity.writeStore",
                                               "similarity.writeVectors"}, 1e3),
        "similarity.rows_read_per_result":
            m(head, "input_records") / answers if answers else 0.0,
        "similarity.recall_at_8": record.get("recall_at_8", 0.0),
        "streaming.insert_p50_ms": named["insert_p50_ms"],
        "streaming.insert_jobs": m("insert", "jobs"),
        "streaming.insert_driver_gap_ms": m("insert", "driver_gap_ms"),
        "streaming.insert_bytes_written": m("insert", "output_bytes"),
        "similarity.erase_p50_ms": named["erase_p50_ms"],
        "similarity.erase_jobs": m("erase", "jobs"),
        "similarity.erase_driver_gap_ms": m("erase", "driver_gap_ms"),
        "similarity.erase_bytes_written": m("erase", "output_bytes"),
        "similarity.store_files": record.get("store_files", 0),
        "similarity.store_bytes_per_live_vector":
            record["store_bytes"] / record["live_vectors"] if record.get("live_vectors") else 0.0,
        "sources.register_ms": setup_med({"sources.registerAll"}, 1),
        "jvm.heap_peak_mb": record["heap_peak_mb"],
        "jvm.cpu_ms": stats.median([s["cpu_ms"] for s in plain if s["kind"] == head and s["ok"]]),
        "trace.overhead_pct": overhead_pct(timed),
    }
    if ops:
        lines.append(f"{wl}  traced operations: {len(ops)}; per operation type:")
        for k in kinds:
            keys = sorted({key for o in ops if o["kind"] == k for key in o} - {"kind"})
            lines.append(f"{wl}    {k}: " + ", ".join(f"{key}={m(k, key):.6g}" for key in keys))
    return e2e, layer, lines


def overhead_pct(timed):
    """Traced against untraced time over whole groups of four blocks of the
    same composition, run untraced, traced, traced, untraced."""
    walls = {}
    for s in timed:
        walls.setdefault(s["block"], [0.0, s["traced"]])[0] += s["dur_ms"]
    whole = len(walls) // 4 * 4
    plain = sum(w for b, (w, t) in walls.items() if b < whole and not t)
    traced = sum(w for b, (w, t) in walls.items() if b < whole and t)
    return 100.0 * (traced / plain - 1.0) if plain and traced else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    cpus = len(os.sched_getaffinity(0))
    run_dir = build.BUILD / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir.mkdir(parents=True, exist_ok=True)
    t0, cpu0 = time.time(), cpu_times()
    try:
        record = run_jvm(args, cpus, run_dir)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        sys.exit(f"{args.workload}: {e}")
    rows_dir = run_dir / "record.json.rows"
    problems = check_answers(record, rows_dir, json.loads(REFERENCES.read_text()))
    shutil.rmtree(rows_dir, ignore_errors=True)
    e2e, layer, lines = metrics(record)
    print(f"{args.workload}: seed {args.seed}, local[{cpus}], one closed-loop client, "
          f"{args.seconds:g} s measured, {time.time() - t0:.1f} s in the JVM")
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[0] + cpu1[1] > cpu0[0] + cpu0[1]:
        # time the hypervisor gave to other guests while this run wanted
        # the CPU: the usual cause of a slow outlier on a shared machine
        steal = (cpu1[1] - cpu0[1]) / (cpu1[0] + cpu1[1] - cpu0[0] - cpu0[1])
        print(f"{args.workload}  cpu steal = {100 * steal:.1f}% of busy time")
    for line in lines:
        print(line)
    for p in problems:
        print(f"{args.workload}  WRONG: {p}")
    chosen, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    for name, unit in units.items():
        print(f"{args.workload}  {name} = {chosen[name]:.6g} {unit}")
    print(json.dumps({
        "correct": not problems,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: {"value": chosen[n], "unit": u} for n, u in units.items()},
    }))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
