"""Playbook benchmark: one workload, one seed, one process, one closed-loop client.

    python3 playbench/run.py --workload etl_csv --seed 1 --seconds 10 --trace 0

Builds the program with its harness (harness/build.py), generates the
workload's inputs from the seed, then runs the harness JVM: session
set-up, one first execution unit, a fixed number of settling units,
then ceil(--seconds / nominal warm unit time) timed units, all back to
back. The timed phase thus lasts about --seconds on the reference host,
and run_s is always the median of the same unit positions. Every unit's
outputs are checked (check.py). The last line of stdout is one JSON
object with the end-to-end metrics (--trace 0) or the per-layer metrics
of the traced run (--trace 1).
See README.md for the workloads and metrics.

Options beyond the benchmark contract:
  --tamper 1   also alter a copy of the first unit's main sink and show
               that the output check rejects it
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE / "harness"))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

# rows / documents per workload input (see README.md for why)
SIZES = {"etl_csv": 40000, "corpus_curate": 6000, "incr_ingest": 4500}
# warm unit wall time on the reference host (4 cores); --seconds buys
# ceil(seconds / nominal) timed units, a count that does not depend on how
# fast this particular run happens to be
NOMINAL_WARM_S = {"etl_csv": 2.5, "corpus_curate": 3.5, "incr_ingest": 10.5}
# untimed warm units between the first unit and the timed ones: the JIT
# makes the first few warm units much slower than the rest
SETTLE_UNITS = {"etl_csv": 2, "corpus_curate": 2, "incr_ingest": 1}
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
END_TO_END = {"setup_s": "s", "first_run_s": "s", "run_s": "s", "rows_per_s": "rows/s",
              "out_bytes_per_in_byte": "ratio", "peak_rss_mb": "MB"}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def playbook(src: Path, work: Path) -> Path:
    """A copy of a playbook with ${GRAFT_DATA} and ${GRAFT_OUT} written out.

    The CLI expands ${VAR} only in source, destination and error-file
    paths, not in analytics params such as incr_neardup's stateDir, so
    the paths are substituted the way the repository's example-playbook
    tests do it.
    """
    dst = work / src.name
    dst.write_text(src.read_text().replace("${GRAFT_DATA}", str(work / "data"))
                   .replace("${GRAFT_OUT}", str(work / "out")))
    return dst


def make_inputs(workload, seed, work: Path):
    """Write the inputs; return (truth for check.py, source rows, source bytes, calls)."""
    n, data = SIZES[workload], work / "data"
    if workload == "etl_csv":
        rows = gen.lineitem(seed, n)
        path = data / "lineitem.csv"
        gen.write_csv(path, gen.LINEITEM_COLS, rows)
        calls = [(playbook(HERE / "playbooks" / "etl_csv.yaml", work), "", "")]
        return gen.etl_expected(rows), n, path.stat().st_size, calls
    docs = gen.corpus(seed, n)
    if workload == "corpus_curate":
        path = data / "documents.parquet"
        gen.write_docs(path, docs)
        calls = [(playbook(ROOT / "examples" / "corpus_clean_datasheet.yaml", work), "", "")]
        return docs, n, path.stat().st_size, calls
    calls, size = [], 0
    cfg = playbook(ROOT / "examples" / "incremental_ingest.yaml", work)
    for b, (lo, hi) in enumerate(check.batch_bounds(n), start=1):
        path = data / f"batch_{b}.parquet"
        gen.write_docs(path, docs, lo, hi)
        size += path.stat().st_size
        calls.append((cfg, path, work / "out" / f"verdicts_b{b}"))
    return docs, n, size, calls


def java_cmd(classes: Path, work: Path, args: list) -> list:
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, "-XX:-UsePerfData", "-Xms1g", "-Xmx1g", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}", "playbench.PlayBench"]
            + [str(a) for a in args])


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def run_jvm(cmd, work: Path, env):
    """Run the harness JVM to completion; its output goes to harness.log."""
    log_path = work / "harness.log"
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=work / "cwd", env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness timed out after {JVM_TIMEOUT_S} s (log in {log_path})")
    if p.returncode != 0:
        raise SystemExit(f"harness exited with {p.returncode}:\n{log_path.read_text()[-3000:]}")


def verify_units(workload, seed, units, truth):
    """Check every unit; a unit fails if it threw, its outputs are wrong
    (check.py, which also compares the digests recorded for the seed), or
    its digests differ from the first unit's."""
    failed, first = [], None
    for u in units:
        problems, digests = check.check(workload, seed, Path(u["dir"]), truth)
        if u["error"]:
            problems.insert(0, f"Main.run threw: {u['error']}")
        if first is None:
            first = digests
        elif digests != first:
            problems.append(f"digests differ from unit 0: {digests} vs {first}")
        if problems:
            failed.append(u["unit"])
            log(f"[check] unit {u['unit']} FAILED: " + "; ".join(problems))
    return failed, first


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    work = ROOT / ".bench_run" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "local", "cwd"):
        (work / d).mkdir(parents=True)
    truth, src_rows, src_bytes, calls = make_inputs(a.workload, a.seed, work)

    env = dict(os.environ, GRAFT_OUT=str(work / "out"), SPARK_LOCAL_DIRS=str(work / "local"))
    settle = SETTLE_UNITS[a.workload]
    timed_units = max(1, math.ceil(a.seconds / NOMINAL_WARM_S[a.workload]))
    args = ["--work", work, "--warm", settle + timed_units, "--trace", a.trace]
    for cfg, inp, out in calls:
        args += ["--call", f"{cfg}|{inp}|{out}"]
    steal0, total0 = cpu_ticks()
    run_jvm(java_cmd(classes, work, args), work, env)
    steal1, total1 = cpu_ticks()
    result = json.loads((work / "result.json").read_text())
    units = result["units"]

    failed, digests = verify_units(a.workload, a.seed, units, truth)
    timed = units[1 + settle:]
    run_s = statistics.median(u["wall_s"] for u in timed)
    e2e = {"setup_s": result["setup_s"], "first_run_s": units[0]["wall_s"],
           "run_s": run_s, "rows_per_s": src_rows / run_s,
           "out_bytes_per_in_byte": statistics.median(
               check.dir_bytes(Path(u["dir"])) / src_bytes for u in units),
           "peak_rss_mb": result["peak_rss_mb"]}
    log(f"[{a.workload} seed={a.seed} trace={a.trace}] {len(units)} units "
        f"({settle} settling, {len(timed)} timed samples for run_s), "
        f"{src_rows} source rows, {src_bytes} source bytes, "
        f"fail_ratio={len(failed) / len(units):.4f}, "
        f"host cpu steal during the run={(steal1 - steal0) / max(1, total1 - total0):.1%}")
    for k, v in e2e.items():
        log(f"  {k} = {v:.6g} {END_TO_END[k]}")
    log(f"  output digests: {digests}")

    if a.tamper:
        altered = check.tamper(a.workload, Path(units[0]["dir"]), work / "tampered")
        bad, _ = verify_units(a.workload, a.seed, [units[0], dict(units[0], unit="tampered",
                                                          dir=str(work / "tampered"))], truth)
        log(f"[tamper] altered {altered}: check {'FIRED' if bad == ['tampered'] else 'DID NOT FIRE'}")
        if bad != ["tampered"]:
            raise SystemExit("output check did not reject the altered copy")

    if a.trace:
        trace = json.loads((work / "trace.json").read_text())
        metrics = {k: {"value": v, "unit": layers.unit_of(k)}
                   for k, v in layers.per_layer(trace, timed, src_bytes).items()}
        (work / "layers.json").write_text(json.dumps(
            {"workload": a.workload, "seed": a.seed, "end_to_end": e2e, "metrics": metrics}, indent=1))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    for d in ("data", "units", "tmp", "local", "cwd", "out", "tampered"):
        shutil.rmtree(work / d, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(units), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    t0 = time.time()
    main()
    log(f"[playbench] {time.time() - t0:.1f} s")
