"""Arithmetic of the benchmark: turns the raw executions the JVM records
into the end-to-end and per-layer metrics. Pure functions over plain data,
so the tests in test_metrics.py can pin each rule.
"""
import statistics

TAIL_BEYOND = 10
# pass 0 is the cold pass and pass 1 lets the JIT settle; the warm
# figures come from pass 2 on
COLD, FIRST_WARM = 0, 2


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile that has at least `beyond` samples above it.

    With n samples sorted ascending, the sample at rank r (1-based) has
    n - r samples ranked beyond it, so the highest rank that keeps
    `beyond` of them is r = n - beyond. Returns (value, percentile, n),
    where the percentile is the share of samples at or below rank r, or
    None when there are not more than `beyond` samples.
    """
    n = len(samples)
    if n <= beyond:
        return None
    r = n - beyond
    return sorted(samples)[r - 1], 100.0 * r / n, n


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= a:
            continue
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)


def task_util(task_s, wall_s, cpus):
    """Summed task run time as a share of what the cores could run."""
    return task_s / (wall_s * cpus) if wall_s > 0 and cpus > 0 else 0.0


def ratio(a, b):
    return a / b if b else 0.0


def warm_walls(execs):
    """op -> list of warm wall times, for executions that succeeded."""
    out = {}
    for e in execs:
        if e["pass"] >= FIRST_WARM and e.get("ok"):
            out.setdefault(e["op"], []).append(e["wall_s"])
    return out


def end_to_end(execs, setup_s):
    """The end-to-end metrics of one run (times in seconds)."""
    cold = [e["wall_s"] for e in execs if e["pass"] == COLD and e.get("ok")]
    warm = warm_walls(execs)
    samples = [w for ws in warm.values() for w in ws]
    t = tail(samples)
    return {
        "setup_s": setup_s,
        "cold_s": sum(cold),
        "warm_s": sum(median(ws) for ws in warm.values()),
        "op_p50_s": median(samples),
        "op_tail_s": t[0] if t else max(samples, default=0.0),
    }, {"tail_percentile": t[1] if t else None, "tail_samples": len(samples)}


def failures(execs, expected, ops):
    """(attempted, failed, failing ops). Every execution is attempted, the
    untimed verification runs too. One fails when it threw, or when it
    digested its result and the digest is not the operation's expected
    one. An operation none of whose executions was digested counts as one
    more failure, since its result went unchecked."""
    def wrong(e):
        return not e.get("ok") or ("digest" in e and e["digest"] != expected.get(e["op"]))
    bad = {e["op"] for e in execs if wrong(e)}
    unchecked = set(ops) - {e["op"] for e in execs if "digest" in e}
    failed = sum(1 for e in execs if wrong(e)) + len(unchecked)
    return len(execs), failed, sorted(bad | unchecked)


PASS_SUMS = {
    # metric: counter summed over a pass's executions
    "operators.build_jobs": "build_jobs",
    "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.task_s": "task_s", "exec.gc_s": "gc_s",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.spill_bytes": "spill_bytes", "exec.failed_tasks": "failed_tasks",
    "tables.input_rows": "input_rows", "tables.input_bytes": "input_bytes",
    "sources.fs_commits": "fs_commits", "sources.fs_files": "fs_files",
    "sources.fs_bytes": "fs_bytes", "sources.output_bytes": "output_bytes",
    "sources.mem_versions": "mem_versions", "sources.mem_rows": "mem_rows",
    "streaming.batches": "batches", "streaming.trigger_s": "trigger_s",
    "streaming.add_batch_s": "add_batch_s", "streaming.wal_s": "wal_s",
    "streaming.offsets_s": "offsets_s", "streaming.plan_s": "plan_s",
    "streaming.state_commit_s": "state_commit_s",
    "streaming.state_rows": "state_rows", "streaming.state_bytes": "state_bytes",
}

API_CALLS = ["ingest", "map_filter", "counts", "foldby", "groupby", "reduction",
             "topk", "distinct", "join", "accumulate", "moments", "persist",
             "dyn", "rec_eval", "rec_lower", "delayed_first", "delayed_all"]


def pass_layers(execs, spans, result_rows, cpus):
    """Per-layer sums over the executions of one pass."""
    m = {k: 0.0 for k in PASS_SUMS}
    jobs_of = {}
    for s in spans:
        if s["name"].startswith("job."):
            jobs_of.setdefault(s["exec"], []).append((s["start_ms"], s["end_ms"]))
    build_span = {s["exec"]: (s["start_ms"], s["end_ms"])
                  for s in spans if s["name"] == "operators.build"}
    api = {f"api.{c}_s": 0.0 for c in API_CALLS}
    ids = {e["exec"] for e in execs}
    for s in spans:
        key = f"{s['name']}_s"
        if s["exec"] in ids and key in api:
            api[key] += (s["end_ms"] - s["start_ms"]) / 1e3
    wall = build = exe = build_self = sweep = ckpt = outside = rows = 0.0
    for e in execs:
        c = e.get("counters", {})
        for k, ck in PASS_SUMS.items():
            m[k] += c.get(ck, 0.0)
        wall += e["wall_s"]
        build += e["build_s"]
        exe += e["exec_s"]
        sweep += e.get("sweep_s", 0.0)
        ckpt += e.get("ckpt_rdds", 0)
        rows += max(result_rows.get(e["op"], 0), 0)
        if c.get("batches", 0) > 0:
            outside += e["wall_s"] - c.get("trigger_s", 0.0)
        if e["exec"] in build_span:
            build_self += self_time(build_span[e["exec"]],
                                    jobs_of.get(e["exec"], [])) / 1e3
    m.update(api)
    m.update({
        "operators.build_s": build, "operators.exec_s": exe,
        "operators.build_self_s": build_self,
        "exec.s_per_job": ratio(wall, m["exec.jobs"]),
        "exec.task_util": task_util(m["exec.task_s"], wall, cpus),
        "tables.rows_per_result": ratio(m["tables.input_rows"], rows),
        "streaming.outside_batch_s": outside,
        "sweep.s": sweep, "sweep.ckpt_rdds": ckpt,
        "api.calls": float(sum(1 for e in execs if e["pack"] == "api")),
    })
    return m


def cache_layer(execs):
    """Session-frame cache metrics over the whole run, cold pass included,
    since the frames are built there: new cached RDDs, in-memory scans in
    executed plans, the share of scans that read a frame built before
    (scans - builds, over scans), and the most bytes held at once."""
    builds = sum(e.get("counters", {}).get("cache_builds", 0.0) for e in execs)
    scans = sum(e.get("counters", {}).get("cache_scans", 0.0) for e in execs)
    return {"cache.builds": builds, "cache.scans": scans,
            "cache.hit_ratio": ratio(max(scans - builds, 0.0), scans),
            "cache.bytes": max((e.get("counters", {}).get("cache_bytes", 0.0)
                                for e in execs), default=0.0)}


def layers(raw, cpus):
    """Per-layer metrics of a traced run: the median over warm passes of
    each pass's sum, the cache metrics over the whole run, the kernel
    timings and the per-pack warm sums."""
    execs, spans = raw["execs"], raw.get("spans", [])
    rows = {e["op"]: e["rows"] for e in execs if "rows" in e}
    passes = sorted({e["pass"] for e in execs if e["pass"] >= FIRST_WARM})
    per = [pass_layers([e for e in execs if e["pass"] == p], spans, rows, cpus)
           for p in passes]
    out = {k: median([d[k] for d in per]) for k in per[0]} if per else {}
    out.update(cache_layer(execs))
    out.update({f"functions.{k}": v for k, v in raw.get("kernels", {}).items()})
    packs = {}
    for op, ws in warm_walls(execs).items():
        pack = next(e["pack"] for e in execs if e["op"] == op)
        packs[pack] = packs.get(pack, 0.0) + median(ws)
    out.update({f"pack.{p}.warm_s": v for p, v in sorted(packs.items())})
    return out
