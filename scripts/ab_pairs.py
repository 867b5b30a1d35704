#!/usr/bin/env python3
"""A/B a change against a parent revision with alternating benchmark pairs.

    python3 scripts/ab_pairs.py --parent REV --workload NAME [--pairs 10]
                                [--seed 101] [--parent-dir DIR]
                                [--layers m1,m2,...]

Run from the repository root. The change is the working tree as it stands;
the parent is `git archive REV`, unpacked into a temporary directory (or
into --parent-dir, which is kept and reused while it holds the same
revision, so its engine build is paid once). Pair i runs both trees with
seed `--seed + i`, parent first on even i and change first on odd i, so
neither side always runs on a warmer or cooler host.

Each run is `python3 perfbench/run.py --workload NAME --seed N --seconds S
--trace 0` in that tree, with S the `run_seconds` BENCHMARK.json fixes, so
both sides always run the benchmark's own length; this script only reads
perfbench/ and its output.
For every end-to-end metric BENCHMARK.json declares, it prints both
medians, the parent's interquartile range and in how many pairs the change
was better, then one JSON line with the same figures. A run that is not
correct, or reports failed operations, is listed and makes the exit code 1.

--layers names per-layer metrics (e.g. streaming.points.add_batch_ms,
layer.streaming.self_s). A traced run reports no end-to-end latency, so
every run is then followed by a `--trace 1` run of the same seed in the
same tree, which gives those metrics; each one's median on both sides is
printed under the end-to-end table and kept in the JSON line's "layers".
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def unpack(rev, dest):
    """Unpacks `git archive rev` into dest unless it already holds rev."""
    stamp = os.path.join(dest, ".ab_rev")
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         stdout=subprocess.PIPE, text=True).stdout.strip()
    if os.path.exists(stamp) and open(stamp).read() == sha:
        return sha
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab_pairs: git archive {rev} failed")
    with open(stamp, "w") as f:
        f.write(sha)
    return sha


def run(tree, workload, seed, seconds, trace=False):
    """One benchmark run in `tree`; returns its result object."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "1" if trace else "0"],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else {}
    if "correct" not in result:
        return {"correct": False, "failed": -1, "metrics": {}}
    return result


def iqr(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="parent revision, e.g. HEAD~1")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101, help="seed of the first pair")
    ap.add_argument("--parent-dir", default=None,
                    help="where to unpack the parent; kept and reused across calls")
    ap.add_argument("--layers", default="",
                    help="comma-separated per-layer metrics to report (adds a traced run per run)")
    a = ap.parse_args()
    layers = [m for m in a.layers.split(",") if m]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]

    parent_dir = a.parent_dir or tempfile.mkdtemp(prefix="ab_parent_")
    try:
        sha = unpack(a.parent, parent_dir)
        print(f"parent {sha[:12]} in {parent_dir}; change = working tree {ROOT}", flush=True)
        runs = {"parent": [], "change": []}
        traced = {"parent": [], "change": []}
        bad = []
        for i in range(a.pairs):
            seed = a.seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                tree = parent_dir if side == "parent" else ROOT
                r = run(tree, a.workload, seed, seconds)
                runs[side].append(r)
                if not r["correct"] or r.get("failed", 0) != 0:
                    bad.append((side, seed, r.get("failed")))
                if layers:
                    t = run(tree, a.workload, seed, seconds, trace=True)
                    traced[side].append(t)
                    if not t["correct"] or t.get("failed", 0) != 0:
                        bad.append((side + " traced", seed, t.get("failed")))
            got = {s: {m: runs[s][-1]["metrics"].get(m, {}).get("value") for m, _ in metrics}
                   for s in runs}
            print(f"pair {i + 1}/{a.pairs} seed {seed} ({order[0]} first): "
                  + json.dumps(got, separators=(",", ":")), flush=True)
    finally:
        if a.parent_dir is None:
            shutil.rmtree(parent_dir, ignore_errors=True)

    summary = {"workload": a.workload, "parent": sha, "pairs": a.pairs, "first_seed": a.seed,
               "metrics": {}}
    print(f"\n{'metric':<18}{'parent med':>12}{'change med':>12}{'parent IQR':>12}"
          f"{'change wins':>13}")
    for m, better in metrics:
        pv = [r["metrics"].get(m, {}).get("value") for r in runs["parent"]]
        cv = [r["metrics"].get(m, {}).get("value") for r in runs["change"]]
        pairs = [(p, c) for p, c in zip(pv, cv) if p is not None and c is not None]
        if not pairs:
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        wins = sum(1 for p, c in pairs if (c < p if better == "lower" else c > p))
        row = {"parent_median": statistics.median(ps), "change_median": statistics.median(cs),
               "parent_iqr": iqr(ps) if len(ps) > 1 else 0.0, "change_wins": wins,
               "pairs": len(pairs), "better": better}
        summary["metrics"][m] = row
        print(f"{m:<18}{row['parent_median']:>12.1f}{row['change_median']:>12.1f}"
              f"{row['parent_iqr']:>12.1f}{wins:>8}/{len(pairs)}")
    if layers:
        summary["layers"] = {}
        print(f"\n{'per-layer metric':<34}{'parent med':>12}{'change med':>12}")
    for m in layers:
        meds = {}
        for side in traced:
            xs = [t["metrics"][m]["value"] for t in traced[side] if m in t["metrics"]]
            meds[side] = statistics.median(xs) if xs else None
        summary["layers"][m] = {"parent_median": meds["parent"], "change_median": meds["change"]}
        cells = "".join(f"{v:>12.2f}" if v is not None else f"{'-':>12}"
                        for v in (meds["parent"], meds["change"]))
        print(f"{m:<34}{cells}")
    for side, seed, failed in bad:
        print(f"NOT CORRECT: {side} seed {seed} (failed {failed})")
    summary["incorrect_runs"] = [{"side": s, "seed": n} for s, n, _ in bad]
    print(json.dumps(summary, separators=(",", ":")), flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
