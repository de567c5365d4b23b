#!/usr/bin/env python3
"""Compare two trees on one playbench workload by alternating pairs.

Usage:
    python3 scripts/playbench_pairs.py PARENT_TREE CHANGE_TREE \\
        --workload etl_csv --seeds 10-19 [--trace-seed 1] [--seconds S]

For each seed it runs one untraced `playbench/run.py` in each tree, each
built from its own sources, alternating which side runs first (even
pairs parent first, odd pairs change first). Every run must report
`correct` with 0 failed units. Then, for every end-to-end metric in
CHANGE_TREE's BENCHMARK.json, it prints each side's median and
quartiles, how many pairs the change won (ties count for neither), the
parent's IQR, and the verdict of the small-sandbox rule: a gain needs
wins in at least nine tenths of the pairs and a median gap larger than
the parent's IQR. A change median worse than the parent's by more than
the metric's bound is flagged BEYOND BOUND.

With --trace-seed N (default 1; 0 skips it) it also runs both trees
traced on seed N and prints `playbench/counter_diff.py` of the two
layers.json files; its exit code is reported, and a non-zero one fails
the script. Both traced runs happen in one directory, `tree` in a fresh
temporary directory made for this invocation and deleted after it: each
tree is copied there in turn, build cache included, and its layers.json
is copied back to the tree's own `.bench_run/`. Run inputs live under the
tree, and a workload whose output depends on the input path (such as
`_metadata.file_path` riding a shuffle) would otherwise differ in its
counters between two identical programs in differently named trees.

--seconds defaults to BENCHMARK.json's run_seconds. Each tree's build
cache is its own `.bench_build/` (CARGO_TARGET_DIR is unset for the
runs, so the trees do not evict each other's builds). Per-run metrics
go to stdout as JSON lines; progress goes to stderr. Exits 1 if any run
was incorrect or failed, or counter_diff.py did not exit 0.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

# not copied into the traced-run directory: VCS data, sbt output, old runs
SKIP = shutil.ignore_patterns(".git", "target", ".bench_run", "spark-warehouse", "metastore_db",
                              "__pycache__")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def seeds(spec: str) -> list:
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def run(tree: Path, workload: str, seed: int, seconds: float, trace: int) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    cmd = [sys.executable, str(tree / "playbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=tree, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit(f"{tree}: run.py exited with {r.returncode} (seed {seed})")
    return json.loads(r.stdout.strip().splitlines()[-1])


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--trace-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    trees = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    bench = json.loads((trees["change"] / "BENCHMARK.json").read_text())
    seconds = a.seconds or bench["run_seconds"]
    metrics = bench["end_to_end"]

    values = {side: {m["name"]: [] for m in metrics} for side in trees}
    bad = 0
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run(trees[side], a.workload, seed, seconds, trace=0)
            ok = res["correct"] and res["failed"] == 0
            bad += not ok
            got = {k: v["value"] for k, v in res["metrics"].items()}
            for m in metrics:
                values[side][m["name"]].append(got[m["name"]])
            print(json.dumps({"pair": i, "seed": seed, "side": side, "correct": ok, "metrics": got}),
                  flush=True)
            log(f"[pair {i} seed {seed}] {side}: correct={ok} "
                + " ".join(f"{k}={v:.6g}" for k, v in got.items()))

    n = len(values["parent"][metrics[0]["name"]])
    log(f"\n{a.workload}: {n} pairs")
    log(f"{'metric':22s} {'parent median [q1, q3]':>32s} {'change median [q1, q3]':>32s} "
        f"{'wins':>6s} {'parent IQR':>11s}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p, c = values["parent"][name], values["change"][name]
        pq, cq = quartiles(p), quartiles(c)
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        iqr = pq[2] - pq[0]
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        verdict = "gain" if wins >= 0.9 * n and gap > iqr else "no claim"
        worse = -gap / abs(pq[1]) if pq[1] else 0.0
        if worse > m["bound"]:
            verdict += f", BEYOND BOUND ({worse:+.1%} worse, bound {m['bound']:.0%})"
        log(f"{name:22s} {pq[1]:12.6g} [{pq[0]:.6g}, {pq[2]:.6g}] {cq[1]:12.6g} [{cq[0]:.6g}, {cq[2]:.6g}] "
            f"{wins:>3d}/{n:<2d} {iqr:11.6g}  {verdict}")

    if a.trace_seed:
        layer_files = []
        run_dir = Path(".bench_run") / f"{a.workload}-s{a.trace_seed}-t1"
        with tempfile.TemporaryDirectory(prefix="playbench_pairs_") as tmp:
            fixed = Path(tmp) / "tree"
            for side in ("parent", "change"):
                shutil.rmtree(fixed, ignore_errors=True)
                shutil.copytree(trees[side], fixed, ignore=SKIP, symlinks=True)
                res = run(fixed, a.workload, a.trace_seed, seconds, trace=1)
                bad += not (res["correct"] and res["failed"] == 0)
                (trees[side] / run_dir).mkdir(parents=True, exist_ok=True)
                layer_files.append(Path(shutil.copy(fixed / run_dir / "layers.json", trees[side] / run_dir)))
        r = subprocess.run([sys.executable, str(trees["change"] / "playbench" / "counter_diff.py"),
                            *map(str, layer_files)], stdout=subprocess.PIPE, text=True)
        log(f"\ncounter_diff.py, traced seed {a.trace_seed}:\n{r.stdout}exit {r.returncode}")
        bad += r.returncode != 0
    if bad:
        log(f"{bad} run(s) incorrect or with failed units, or a guarded counter grew")
        sys.exit(1)


if __name__ == "__main__":
    main()
