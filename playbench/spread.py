"""Run one workload over several seeds and report each metric's spread.

    python3 playbench/spread.py --workload incr_ingest --seeds 1-10 [--out FILE]

For every metric: the median of the runs and the distance between the
first and third quartile (statistics.quantiles(values, n=4)) as a share
of the median, next to the bound BENCHMARK.json allows. Runs are made
one after another with the run_seconds of BENCHMARK.json; --out keeps
every run's result line.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit code {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["seed"] = seed
        runs.append(res)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    if a.out:
        Path(a.out).write_text(json.dumps(runs, indent=1))
    print(f"{'metric':28s} {'median':>12s} {'iqr/median':>10s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:28s} {med:12.6g} {spread:10.4f} {bounds.get(name) or '':>6}")


if __name__ == "__main__":
    main()
