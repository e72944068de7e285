#!/usr/bin/env python3
"""Compare a parent revision with the working tree on the perfbench gate.

Usage:
  python3 tools/bench_pairs.py <parent-rev> --workloads gen_parquet,curate \
      --seeds 1-10 [--seconds 8] [--trace 0] [--workdir DIR] [--record FILE]

Exports <parent-rev> with `git archive` into DIR/parent-<sha> (reused by later
calls, so its perfbench build is cached), then runs
`python3 perfbench/run.py --workload W --seed N --seconds S --trace T` once in
the parent tree and once in the working tree for every seed, alternating
which goes first (the parent on odd seeds). Each run's last stdout line is
its JSON result; every result is appended to DIR/results.jsonl.

Prints, per workload and metric, the parent and change medians, the relative
delta of the medians (positive = the change is worse, in the metric's own
direction), the bound from BENCHMARK.json, how many pairs the change won and
the parent's interquartile range, plus attempted and failed operations per
side. With --trace 1 the metrics are the per-layer ones, which have no bound.

--record FILE appends one JSON line per workload to FILE (BENCH_HISTORY.jsonl
keeps the runs a change's claim rests on): the parent sha, `git describe
--always --dirty` of the working tree, the seeds, and per metric both medians,
the relative delta, pairs won and the parent's IQR.

A `git archive` export, not a worktree, so nothing is registered in the
repository's .git and an interrupted run leaves nothing behind there. Reads
BENCHMARK.json and perfbench/ and changes neither.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def export_parent(rev, workdir):
    sha = subprocess.check_output(["git", "rev-parse", "--verify", rev + "^{commit}"],
                                  cwd=ROOT, text=True).strip()
    tree = os.path.join(workdir, "parent-" + sha[:12])
    if not os.path.isdir(tree):
        partial = tree + ".partial"
        subprocess.run(["rm", "-rf", partial], check=True)
        os.makedirs(partial)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", partial], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")
        os.rename(partial, tree)
    return sha, tree


def run_once(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def sides(pairs):
    """Per side: runs with a result, operations attempted and failed, runs
    whose output checks failed."""
    out = {}
    for side in ("parent", "change"):
        ok = [p[side] for p in pairs if p[side] is not None]
        out[side] = {"runs": len(ok), "attempted": sum(r["attempted"] for r in ok),
                     "failed": sum(r["failed"] for r in ok),
                     "checks_failed": sum(1 for r in ok if not r["correct"])}
    return out


def summarize(pairs, spec):
    """Per metric over the pairs where both sides have a result: medians,
    relative delta of the medians (positive = worse), pairs won, parent IQR."""
    full = [p for p in pairs if p["parent"] is not None and p["change"] is not None]
    rows = []
    for name in ([n for n in full[0]["parent"]["metrics"] if n in spec] if full else []):
        lower = spec[name]["better"] == "lower"
        ps = [p["parent"]["metrics"][name]["value"] for p in full]
        cs = [p["change"]["metrics"][name]["value"] for p in full]
        pm, cm = statistics.median(ps), statistics.median(cs)
        delta = (cm - pm) / pm if pm else 0.0
        q1, q3 = quartiles(ps)
        rows.append({"metric": name, "parent_median": pm, "change_median": cm,
                     "worse": delta if lower else -delta, "bound": spec[name].get("bound"),
                     "won": sum(1 for a, b in zip(ps, cs) if (b < a if lower else b > a)),
                     "pairs": len(full), "parent_iqr": q3 - q1})
    return rows


def report(workload, pairs, rows):
    print(f"\n== {workload}: {len(pairs)} pairs")
    for side, c in sides(pairs).items():
        print(f"  {side:6s} runs {c['runs']}/{len(pairs)} with a result, "
              f"attempted {c['attempted']}, failed {c['failed']}, checks failed in {c['checks_failed']}")
    if not rows:
        return
    print(f"  {'metric':40s} {'parent':>12s} {'change':>12s} {'worse':>8s} {'bound':>6s} "
          f"{'won':>6s} {'parent IQR':>12s}")
    for r in rows:
        flag = ""
        if r["bound"] is not None and r["worse"] > r["bound"]:
            flag = "  WORSE THAN BOUND"
        elif (abs(r["change_median"] - r["parent_median"]) > r["parent_iqr"]
              and r["won"] * 10 >= 9 * r["pairs"]):
            flag = "  better" if r["worse"] < 0 else "  worse"
        print(f"  {r['metric']:40s} {r['parent_median']:12.4g} {r['change_median']:12.4g} "
              f"{r['worse']:+8.3f} {'' if r['bound'] is None else r['bound']:>6} "
              f"{r['won']:>3d}/{r['pairs']:<2d} {r['parent_iqr']:12.4g}{flag}")


def record(path, workload, sha, args, pairs, rows):
    change = subprocess.check_output(["git", "describe", "--always", "--dirty"],
                                     cwd=ROOT, text=True).strip()
    line = {"workload": workload, "parent": sha, "change": change, "seeds": args.seeds,
            "seconds": args.seconds, "trace": int(args.trace), "sides": sides(pairs),
            "metrics": rows}
    with open(path, "a") as f:
        f.write(json.dumps(line) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--workdir", default=os.path.join(tempfile.gettempdir(), "bench_pairs"))
    ap.add_argument("--record", help="append one JSON summary line per workload to this file")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    key = "end_to_end" if args.trace == "0" else "per_layer"
    spec = {m["name"]: m for m in bench[key]}
    os.makedirs(args.workdir, exist_ok=True)
    sha, parent_tree = export_parent(args.parent_rev, args.workdir)
    trees = {"parent": parent_tree, "change": ROOT}
    log = os.path.join(args.workdir, "results.jsonl")

    for workload in args.workloads.split(","):
        pairs = []
        for seed in seed_range(args.seeds):
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            pair = {}
            for side in order:
                pair[side] = run_once(trees[side], workload, seed, args.seconds, args.trace)
                with open(log, "a") as f:
                    f.write(json.dumps({"workload": workload, "seed": seed, "side": side,
                                        "parent": sha, "trace": args.trace,
                                        "result": pair[side]}) + "\n")
                m = (pair[side] or {}).get("metrics", {})
                shown = ", ".join(f"{n} {m[n]['value']:.4g}" for n in list(spec)[:4] if n in m)
                print(f"{workload} seed {seed} {side}: {shown or 'no result'}", flush=True)
            pairs.append(pair)
        rows = summarize(pairs, spec)
        report(workload, pairs, rows)
        if args.record:
            record(args.record, workload, sha, args, pairs, rows)
    return 0


if __name__ == "__main__":
    sys.exit(main())
