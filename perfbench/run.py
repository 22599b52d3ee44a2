"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the JVM harness from source (perfbench/build.py),
generates the tables once (perfbench/gendata.py), then starts one JVM
that sets up a session and runs the workload as a single closed-loop
client, timing every operation.
The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics untraced, per-layer metrics
with --trace 1). The line before it is the run's record header. The full
record, spans included, is written to perfbench/.work/out/.

The command exits 1 when an operation threw or returned a wrong result.

Dev modes: `--regen` rewrites expected.json from fresh results after
checking them against DuckDB with tools/check_oracle.py; `--corrupt-digest
<op>` runs with that op's expected digest altered, which must fail.
"""
import argparse
import hashlib
import json
import os
import random
import subprocess
import sys
import time

import build
import gendata
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = build.ROOT
WORK = build.WORK
RUN_TIMEOUT_S = 170
HEAP = "3g"
# warm passes are sized per workload for runs of this many seconds
REF_SECONDS = 10


def load_spec():
    """workloads.json, plus each metric's unit from BENCHMARK.json."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = {"workloads": json.load(f)}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec["units"] = {m["name"]: m["unit"]
                     for m in bench["end_to_end"] + bench["per_layer"]}
    spec["end_to_end"] = [m["name"] for m in bench["end_to_end"]]
    spec["per_layer"] = [m["name"] for m in bench["per_layer"]]
    return spec


def cpus():
    return len(os.sched_getaffinity(0))


def ensure_data():
    out = os.path.join(WORK, "data", f"sf{gendata.SCALE}")
    with open(os.path.join(HERE, "gendata.py"), "rb") as f:
        want = hashlib.sha256(f.read()).hexdigest()
    stamp = os.path.join(out, ".stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        gendata.write(out)
        with open(stamp, "w") as f:
            f.write(want)
    return out


def pass_orders(n_ops, seed, passes):
    """Operation order of each pass. The cold pass runs in the listed
    order, so every run pays the same first executions (which operation
    builds a shared frame changes its cost); the settling pass and each
    warm pass are permuted by the workload seed."""
    rng = random.Random(seed)
    orders = [list(range(n_ops))]
    for _ in range(metrics.FIRST_WARM - 1 + passes):
        o = list(range(n_ops))
        rng.shuffle(o)
        orders.append(o)
    return orders


def warm_passes(w, seconds):
    """The workload's warm-pass count for REF_SECONDS, scaled to
    `seconds`, and never fewer than three, so each operation has a
    median."""
    return max(3, int(w["warm_passes"] * seconds // REF_SECONDS))


def jvm(plan, path, deadline):
    """Start the harness JVM on `plan`; return (seconds until @ready, rc)."""
    with open(path, "w") as f:
        json.dump(plan, f)
    tmp = plan["tmp"]
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    # -XX:-UsePerfData: the JVM would otherwise write its counters under the
    # system temp dir, outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + build.JVM_OPENS + ["-cp", build.classpath(), "perfbench.Main", path])
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=WORK)
    ready = None
    try:
        for line in p.stdout:
            if ready is None and line.strip() == "@ready":
                ready = time.monotonic() - t0
            elif line.strip():
                sys.stderr.write(line)
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: run exceeded its time limit")
    finally:
        subprocess.run(["rm", "-rf", tmp])
    return ready, p.returncode


def git_rev():
    """The checkout's commit, or None when it is not a git work tree of
    its own (the source digest in the header identifies it then)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    return r.stdout.strip() or None


def run(args):
    spec = load_spec()
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}")
    w = spec["workloads"][args.workload]
    ops = [n for n, _ in w["ops"]]
    if args.corrupt_digest and args.corrupt_digest not in ops:
        raise SystemExit(f"perfbench: {args.corrupt_digest!r} is not an operation of {args.workload}")
    build.build(quiet=True)
    data = ensure_data()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    n_cpus = cpus()
    passes = warm_passes(w, args.seconds)
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{int(args.trace)}"
    out = os.path.join(WORK, "out", f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    plan = {
        "mode": "run", "workload": args.workload, "seed": args.seed,
        "trace": bool(args.trace), "cpus": n_cpus, "data": data,
        "tmp": os.path.join(WORK, "tmp"), "out": out,
        "ops": [{"name": n, "pack": p} for n, p in w["ops"]],
        "order": pass_orders(len(w["ops"]), args.seed, passes),
        "objs": {"seed": args.seed, "count": w.get("objs_count", 0)},
    }
    ready, rc = jvm(plan, os.path.join(WORK, "plan.json"), deadline)
    if rc != 0 or ready is None or not os.path.exists(out):
        raise SystemExit(f"perfbench: harness failed (exit {rc})")
    with open(out) as f:
        raw = json.load(f)

    expected = {k: v["digest"] for k, v in load_expected().items()}
    expected.update(raw["refs"])
    if args.corrupt_digest:
        expected[args.corrupt_digest] = "0" * 24
    attempted, failed, bad = metrics.failures(raw["execs"], expected, ops)
    e2e, tail_info = metrics.end_to_end(raw["execs"], ready)
    e2e["heap_peak_mb"] = raw["heap_peak_mb"]
    header = dict(raw["header"], workload=args.workload, seed=args.seed,
                  trace=bool(args.trace), cpus=n_cpus, heap=HEAP,
                  git_rev=git_rev(), src_sha=build.stamp()[:16],
                  sf_dir=os.path.relpath(data, ROOT), data_seed=gendata.SEED,
                  ops=ops, warm_passes=passes,
                  mismatched=bad, **tail_info)
    record = {"header": header, "end_to_end": e2e,
              "ops_failed_frac": metrics.ratio(failed, attempted)}
    units = spec["units"]
    if args.trace:
        lay = metrics.layers(raw, n_cpus)
        # these repeat too loosely across runs to carry a bound
        # (perfbench/RECORD.md), so they are reported with the layers
        for k in ("op_p50_s", "cold_s", "op_tail_s"):
            lay[k] = e2e[k]
        lay["trace.warm_s"] = e2e["warm_s"]
        lay["ops_failed_frac"] = record["ops_failed_frac"]
        record["layers"] = lay
        shown = {k: lay[k] for k in spec["per_layer"]}
    else:
        shown = {k: e2e[k] for k in spec["end_to_end"]}
    record["spans"] = raw.get("spans", [])
    record["execs"] = raw["execs"]
    with open(out, "w") as f:
        json.dump(record, f)
    print("# record " + json.dumps(header))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))
    if failed:
        sys.exit(1)


def load_expected():
    p = os.path.join(HERE, "expected.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def regen():
    """Rewrite expected.json: run every registry op once, check results
    that have an oracle against DuckDB, and keep their digests."""
    spec = load_spec()
    build.build()
    data = ensure_data()
    ops = {}
    for w in spec["workloads"].values():
        if "objs_count" not in w:
            ops.update({n: p for n, p in w["ops"]})
    out = os.path.join(WORK, "regen")
    subprocess.run(["rm", "-rf", out], check=True)
    plan = {"mode": "regen", "cpus": cpus(), "data": data,
            "tmp": os.path.join(WORK, "tmp"), "out": out,
            "ops": [{"name": n, "pack": p} for n, p in sorted(ops.items())]}
    _, rc = jvm(plan, os.path.join(WORK, "plan.json"), time.monotonic() + 3600)
    if rc != 0:
        raise SystemExit("perfbench: regen failed")
    check = os.path.join(ROOT, "tools", "check_oracle.py")
    r = subprocess.run([sys.executable, check, data, out])
    if r.returncode != 0:
        raise SystemExit("perfbench: results disagree with the DuckDB oracle")
    with open(os.path.join(out, "digests.json")) as f:
        digests = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for n, d in digests.items():
        d["oracle"] = n in oracle
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(dict(sorted(digests.items())), f, indent=1)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--regen", action="store_true")
    ap.add_argument("--corrupt-digest")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the program's sources are missing")
    if args.regen:
        regen()
    else:
        if not args.workload:
            ap.error("--workload is required")
        run(args)


if __name__ == "__main__":
    main()
