"""Statistics over the JVM side's run record: percentiles, the union of job
intervals, the order-insensitive result hash, and the per-operation
aggregation of spans and Spark counters."""
import hashlib
import statistics
from collections import defaultdict


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples):
    """The highest whole percentile, from 50 to 99, that has at least ten
    samples beyond it, as `(percentile, value)` by nearest rank; `None`
    when fewer than 20 samples support even the median."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = -(-p * n // 100)
        if n - rank >= 10:
            return p, xs[rank - 1]
    return None


def covered_ms(intervals, lo, hi):
    """How much of `[lo, hi]` the union of `intervals` covers."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur = 0.0, None
    for a, b in clipped:
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def result_hash(lines):
    """`(rows, hex digest)` of a query result written as a header line and
    one line per row. The rows are sorted before hashing, so the digest
    does not depend on the order the engine returned them in."""
    header, rows = lines[0], sorted(lines[1:])
    h = hashlib.sha256(header.encode())
    for row in rows:
        h.update(b"\n" + row.encode())
    return len(rows), h.hexdigest()


COUNTERS = ("stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms", "input_bytes",
            "input_records", "shuffle_write_bytes", "spill_bytes", "output_bytes")
SQL_PHASES = ("analysis_ms", "optimization_ms", "planning_ms")


def per_op(record):
    """One dict per traced timed step: its kind, duration, jobs, driver gap
    (the step's span minus the union of its jobs' spans), summed Spark
    counters and SQL phase times, and the duration, self time and job
    count of each child span by name."""
    spans = {s["id"]: s for s in record["spans"]}
    children = defaultdict(list)
    for s in spans.values():
        children[s["parent"]].append(s["id"])
    jobs_of = defaultdict(list)
    for j in record["jobs"]:
        if j["group"].startswith("span-"):
            jobs_of[int(j["group"][5:])].append(j)

    def subtree(i):
        out, todo = [], [i]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children[x])
        return out

    def job_interval(j):
        return j["start_ms"], max(j["start_ms"], j["end_ms"])

    ops = []
    for step in record["steps"]:
        if step["phase"] != "timed" or step["span"] < 0 or not step["ok"]:
            continue
        root = spans[step["span"]]
        lo, hi = root["start_ms"], root["end_ms"]
        jobs = [j for s in subtree(root["id"]) for j in jobs_of[s]]
        op = {"kind": step["kind"], "dur_ms": step["dur_ms"], "jobs": len(jobs),
              "driver_gap_ms": (hi - lo) - covered_ms(map(job_interval, jobs), lo, hi)}
        for c in COUNTERS:
            op[c] = sum(j[c] for j in jobs)
        sqls = [q for q in record["sql"] if lo <= q["end_ms"] <= hi]
        op["sql_executions"] = len(sqls)
        for p in SQL_PHASES:
            op[p] = sum(q[p] for q in sqls)
        for child in children[root["id"]]:
            c = spans[child]
            grand = [(spans[g]["start_ms"], spans[g]["end_ms"]) for g in children[child]]
            dur = c["end_ms"] - c["start_ms"]
            op[c["name"] + ".ms"] = dur
            op[c["name"] + ".self_ms"] = dur - covered_ms(grand, c["start_ms"], c["end_ms"])
            op[c["name"] + ".jobs"] = sum(len(jobs_of[s]) for s in subtree(child))
        ops.append(op)
    return ops


def mean_of(ops, kind, key):
    xs = [o.get(key, 0.0) for o in ops if o["kind"] == kind]
    return sum(xs) / len(xs) if xs else 0.0
