"""Compare the per-layer counters of two traced runs.

    python3 playbench/counter_diff.py BEFORE AFTER

BEFORE and AFTER are traced results of the same workload and seed:
either the `layers.json` a traced run leaves in
.bench_run/<workload>-s<seed>-t1/, or a file holding the last stdout line
of `run.py --trace 1`. Every counter is printed side by side. The exit
code is 1 if any guarded counter grew or is missing from AFTER, whatever
the wall times did: these counters repeat exactly for the same code and
seed, so any growth is a real change in the work done. It is 2 if both
files name their workload and seed (layers.json does) and they differ.
"""
import json
import sys

GUARDED = ("exec.jobs", "io.read.bytes", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
           "ops.leaked_temp_dirs", "ops.leaked_persisted_rdds")


def load(path: str) -> dict:
    text = open(path).read().strip()
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        return json.loads(text.splitlines()[-1])


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    docs = [load(p) for p in sys.argv[1:]]
    for key in ("workload", "seed"):
        if all(key in d for d in docs) and docs[0][key] != docs[1][key]:
            print(f"{key} differs: {docs[0][key]} vs {docs[1][key]}")
            sys.exit(2)
    before, after = ({k: v["value"] for k, v in d["metrics"].items()} for d in docs)
    bad = []
    print(f"{'counter':28s} {'before':>14s} {'after':>14s}")
    for name in before:
        b, a = before[name], after.get(name)
        flag = ""
        if name in GUARDED and (a is None or a > b):
            bad.append(name)
            flag = "  MISSING" if a is None else "  GREW"
        print(f"{name:28s} {b:14.6g} {a if a is not None else float('nan'):14.6g}{flag}")
    if bad:
        print("guarded counters grew or are missing: " + ", ".join(bad))
        sys.exit(1)
    print("no guarded counter grew")


if __name__ == "__main__":
    main()
