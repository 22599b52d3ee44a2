"""Tables regenerated from a run's record alone (perfbench/.work/out/*.json).

    python3 perfbench/report.py <record.json> [<untraced record.json>]

Prints the per-pack warm_s table, and the operations ranked by Spark
jobs and by driver-side time (wall - task_s / cpus). Both rankings need
a traced record. Given an untraced record of the same workload as well,
it also prints the tracing overhead: traced warm_s against untraced.
"""
import json
import sys

import metrics


def per_op(record):
    """op -> (pack, cold wall, warm median wall, warm median jobs, warm
    median task_s)."""
    execs = record["execs"]
    out = {}
    for op in dict.fromkeys(e["op"] for e in execs):
        mine = [e for e in execs if e["op"] == op and e.get("ok")]
        warm = [e for e in mine if e["pass"] >= metrics.FIRST_WARM]
        cold = [e["wall_s"] for e in mine if e["pass"] == metrics.COLD]
        c = [e.get("counters", {}) for e in warm]
        out[op] = (mine[0]["pack"] if mine else "?",
                   cold[0] if cold else float("nan"),
                   metrics.median([e["wall_s"] for e in warm]),
                   metrics.median([x.get("jobs", 0.0) for x in c]),
                   metrics.median([x.get("task_s", 0.0) for x in c]))
    return out


def main(paths):
    with open(paths[0]) as f:
        rec = json.load(f)
    h = rec["header"]
    cpus = h["cpus"]
    ops = per_op(rec)
    print(f"# {h['workload']} seed={h['seed']} trace={h['trace']} cpus={cpus} "
          f"passes={h['warm_passes']} rev={h.get('git_rev')}")
    packs = {}
    for pack, _, warm, _, _ in ops.values():
        packs[pack] = packs.get(pack, 0.0) + warm
    print("\n| pack | warm_s |\n|---|---|")
    for p, v in sorted(packs.items(), key=lambda kv: -kv[1]):
        print(f"| {p} | {v:.3f} |")
    print("\n| op | pack | cold_s | warm_s | jobs | driver_s |\n|---|---|---|---|---|---|")
    for op, (pack, cold, warm, jobs, task_s) in sorted(
            ops.items(), key=lambda kv: (-kv[1][3], -kv[1][2])):
        print(f"| {op} | {pack} | {cold:.3f} | {warm:.3f} | {jobs:.0f} | "
              f"{warm - task_s / cpus:.3f} |")
    print("\nby driver-side time (wall - task_s/cpus):")
    for op, (_, _, warm, _, task_s) in sorted(
            ops.items(), key=lambda kv: -(kv[1][2] - kv[1][4] / cpus)):
        print(f"  {op:40s} {warm - task_s / cpus:.3f}")
    if len(paths) > 1:
        with open(paths[1]) as f:
            plain = json.load(f)
        t, u = rec["end_to_end"]["warm_s"], plain["end_to_end"]["warm_s"]
        print(f"\ntracing overhead: warm_s {t:.3f} traced vs {u:.3f} untraced "
              f"({100 * (t / u - 1):+.1f} %)")


if __name__ == "__main__":
    main(sys.argv[1:])
