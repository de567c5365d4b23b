"""Output checks of the playbook benchmark, one per workload.

Every sink of an execution unit is read back and summarised as a row
count plus an order-insensitive digest (the sum of a 64-bit hash per
row). `check(workload, seed, unit_dir, truth)` returns
`(problems, digests)`: an empty problem list means the unit's outputs
are correct.

For every seed with an entry in baseline/expected.json, each sink's row
count and digest must equal the recorded ones. They were recorded from
the program at the commit that added the benchmark, and every recorded
run also passed the workload checks below.

What "correct" means per workload:
- etl_csv: sink and error file equal, row for row (in any order), the
  rows the reference model in gen.py derives from the generated input.
- corpus_curate: the datasheet has one row per (source, lang) cell of
  the input; no exact duplicate survives (n_exact_dup_docs and
  dup_rate_micro are 0 everywhere); every planted copy and at least half
  of the planted near-duplicates are gone (kept documents <= input -
  copies - near / 2) and at least half as many documents are kept as
  there are planted originals; mean quality lies in [0.3, 1].
- incr_ingest: each batch's verdicts cover exactly that batch's ids; a
  copy of a document from the same batch is never `kept`; a copy of a
  document an earlier batch kept or matched to the state is
  `dup_of_ref`; at least half of the planted near-duplicates are caught.
  (The 31-word vocabulary also makes unrelated short documents similar,
  so which originals get flagged is not predicted.)
Near-duplicate detection is not modelled document by document, so for
these two workloads the recorded digests are what pins the exact
output; for a seed without an entry, run.py still requires every unit
of a run to reproduce the first unit's digests.
"""
import csv
import hashlib
import json
import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

BATCHES = 3
EXPECTED = Path(__file__).resolve().parent / "baseline" / "expected.json"


def digest(rows) -> tuple:
    n, acc = 0, 0
    for row in rows:
        h = hashlib.blake2b("\x1f".join("" if v is None else str(v) for v in row).encode(),
                            digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, f"{acc:016x}"


def read_csv(path: Path) -> list:
    with open(path, newline="") as f:
        return list(csv.reader(f))


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def _compare_rows(name, got, want, problems, digests):
    if not got:
        problems.append(f"{name}: empty or missing")
        return
    if got[0] != want[0]:
        problems.append(f"{name}: header {got[0]} != {want[0]}")
    g, w = digest(got[1:]), digest(want[1:])
    digests[name] = g
    if g != w:
        extra = {tuple(r) for r in got[1:]} - {tuple(r) for r in want[1:]}
        missing = {tuple(r) for r in want[1:]} - {tuple(r) for r in got[1:]}
        problems.append(f"{name}: {g[0]} rows digest {g[1]}, expected {w[0]} rows digest {w[1]}"
                        f" (e.g. unexpected {sorted(extra)[:1]}, missing {sorted(missing)[:1]})")


def check_etl(unit: Path, truth: dict):
    problems, digests = [], {}
    for name, file in (("sink", "lineitem_clean.csv"), ("errors", "lineitem_errors.csv")):
        path = unit / file
        _compare_rows(name, read_csv(path) if path.exists() else [], truth[name], problems, digests)
    return problems, digests


def _table_rows(t: pa.Table) -> list:
    cols = sorted(t.column_names)
    data = [t.column(c).to_pylist() for c in cols]
    return list(zip(*data))


def check_corpus(unit: Path, docs: dict):
    problems, digests = [], {}
    path = unit / "datasheet"
    if not path.exists():
        return ["datasheet: missing"], digests
    t = pq.read_table(path)
    digests["datasheet"] = digest(_table_rows(t))
    rows = t.to_pylist()
    cells = {(s, l) for s, l in zip(docs["source"], docs["lang"])}
    got = {(r["source"], r["lang"]) for r in rows}
    if len(rows) != len(cells) or got != cells:
        problems.append(f"datasheet: {len(rows)} cells, expected {len(cells)}")
    if any(r["n_exact_dup_docs"] != 0 or r["dup_rate_micro"] != 0 for r in rows):
        problems.append("datasheet: exact duplicates survived corpus_clean")
    n = len(docs["kind"])
    copies = docs["kind"].count("copy")
    near = docs["kind"].count("near")
    kept = sum(r["n_docs"] for r in rows)
    lo, hi = (n - copies - near) // 2, n - copies - near // 2
    if not lo <= kept <= hi:
        problems.append(f"datasheet: {kept} docs kept, expected {lo}..{hi}")
    if any(not 300000 <= r["mean_quality_micro"] <= 1000000 for r in rows):
        problems.append("datasheet: mean_quality_micro outside [0.3, 1]")
    return problems, digests


def batch_bounds(n: int) -> list:
    return [(b * n // BATCHES, (b + 1) * n // BATCHES) for b in range(BATCHES)]


def check_incr(unit: Path, docs: dict):
    problems, digests, verdict = [], {}, {}
    n = len(docs["kind"])
    for b, (lo, hi) in enumerate(batch_bounds(n), start=1):
        name = f"verdicts_b{b}"
        path = unit / name
        if not path.exists():
            problems.append(f"{name}: missing")
            continue
        t = pq.read_table(path)
        digests[name] = digest(_table_rows(t))
        status = dict(zip(t.column("doc_id").to_pylist(), t.column("status").to_pylist()))
        if t.num_rows != hi - lo or set(status) != set(range(lo, hi)):
            problems.append(f"{name}: {t.num_rows} verdicts, expected ids {lo}..{hi - 1}")
            continue
        verdict.update(status)
        for i in range(lo, hi):
            if docs["kind"][i] != "copy":
                continue
            src = docs["src"][i]
            if src >= lo and status[i] == "kept":
                problems.append(f"{name}: doc {i} copies {src} of the same batch, got kept")
            # the source's signature is in the state, or matched a state doc
            elif src < lo and verdict[src] != "dup_of_new" and status[i] != "dup_of_ref":
                problems.append(f"{name}: doc {i} copies {src} ({verdict[src]}), got {status[i]}")
    near = [i for i, k in enumerate(docs["kind"]) if k == "near"]
    caught = sum(verdict.get(i, "kept") != "kept" for i in near)
    if caught * 2 < len(near):
        problems.append(f"verdicts: {caught} of {len(near)} near-duplicates caught, expected half")
    if not (unit / "dedup_state").exists():
        problems.append("dedup_state: missing")
    return problems[:5], digests


CHECKS = {"etl_csv": check_etl, "corpus_curate": check_corpus, "incr_ingest": check_incr}


def check(workload: str, seed: int, unit: Path, truth) -> tuple:
    problems, digests = CHECKS[workload](Path(unit), truth)
    recorded = json.loads(EXPECTED.read_text()).get(workload, {}).get(str(seed), {})
    for name, want in recorded.items():
        if digests.get(name) != tuple(want):
            problems.append(f"{name}: {digests.get(name)}, recorded for seed {seed}: {tuple(want)}")
    return problems, digests


def tamper(workload: str, unit: Path, into: Path) -> Path:
    """A copy of a unit's outputs with one value of the main sink altered."""
    shutil.copytree(unit, into)
    if workload == "etl_csv":
        path = into / "lineitem_clean.csv"
        rows = read_csv(path)
        rows[1][-1] = rows[1][-1].replace("1", "2", 1) if "1" in rows[1][-1] else "1999-01-01"
        with open(path, "w", newline="") as f:
            csv.writer(f, lineterminator="\n").writerows(rows)
        return path
    sink = into / ("datasheet" if workload == "corpus_curate" else "verdicts_b3")
    t = pq.read_table(sink)
    shutil.rmtree(sink)
    os.makedirs(sink)
    col = "n_tokens" if workload == "corpus_curate" else "doc_id"
    vals = t.column(col).to_pylist()
    vals[0] += 1
    t = t.set_column(t.column_names.index(col), col, pa.array(vals, t.schema.field(col).type))
    pq.write_table(t, sink / "part-0.parquet")
    return sink
