"""Seeded inputs for the playbook benchmark, with what each sink must hold.

Only `random.Random.random()` is drawn from, the one stream Python
promises to keep stable across versions, so a seed names the same
bytes everywhere.

lineitem(seed, n)  -> lineitem-shaped CSV rows (every value a string)
corpus(seed, n)    -> documents over the sf0.1 documents vocabulary,
                      with planted exact copies and near-duplicates

`etl_expected` is the reference model of the etl_csv playbook (filter,
mappings, last-wins dedup, error routing), written from the playbook
semantics and not from the program under test.
"""
import csv
import datetime
import random

import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                 "l_shipdate"]
BAD_QUANTITY = ["n/a", "unknown", "TBD", "x"]
BAD_SHARE = 0.05

# the 31 words of the sf0.1 documents table, and its language mix
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
SOURCES = 20
COPY_SHARE, NEAR_SHARE, NEAR_EDIT = 0.05, 0.20, 0.05


def _pick(r, n):
    return int(r.random() * n)


def _weighted(r, pairs):
    x, acc = r.random(), 0.0
    for v, w in pairs:
        acc += w
        if x < acc:
            return v
    return pairs[-1][0]


def lineitem(seed: int, n: int) -> list:
    """n rows of lineitem strings: 1-7 lines per order, rows shuffled."""
    r = random.Random(seed)
    rows, order = [], 0
    day0 = datetime.date(1992, 1, 2)
    while len(rows) < n:
        order += 1
        for line in range(1, 2 + _pick(r, 7)):
            qty = 1 + _pick(r, 50)
            price = qty * (90000 + _pick(r, 110000))
            ship = day0 + datetime.timedelta(days=_pick(r, 2526))
            rows.append([
                str(order * 4), str(1 + _pick(r, 20000)), str(1 + _pick(r, 1000)), str(line),
                str(qty), f"{price // 100}.{price % 100:02d}", f"0.{_pick(r, 11):02d}",
                f"0.{_pick(r, 9):02d}", _weighted(r, [("R", 0.25), ("A", 0.25), ("N", 0.5)]),
                "o" if r.random() < 0.5 else "f", ship.strftime("%m/%d/%Y")])
            if len(rows) == n:
                break
    for i in range(len(rows) - 1, 0, -1):
        j = _pick(r, i + 1)
        rows[i], rows[j] = rows[j], rows[i]
    for row in rows:
        if r.random() < BAD_SHARE:
            row[4] = BAD_QUANTITY[_pick(r, len(BAD_QUANTITY))]
    return rows


def write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def go_float(text: str) -> str:
    """Go's %v of a float64 parsed from `text` (values here are < 1e21)."""
    v = float(text)
    return str(int(v)) if v.is_integer() else repr(v)


def etl_expected(rows: list) -> dict:
    """Sink and error-file rows (header first) the etl_csv playbook must write."""
    ix = {c: i for i, c in enumerate(LINEITEM_COLS)}
    err_cols = sorted(LINEITEM_COLS + ["etl_error_message"])
    last, errors = {}, []
    for row in rows:
        if row[ix["l_returnflag"]] == "R":
            continue
        if not row[ix["l_quantity"]].isdigit():
            rec = dict(zip(LINEITEM_COLS, row))
            rec["etl_error_message"] = \
                "mustToInt: cannot convert value to integer for field 'l_quantity'"
            errors.append([rec[c] for c in err_cols])
            continue
        m, d, y = row[ix["l_shipdate"]].split("/")
        rec = {"l_orderkey": row[ix["l_orderkey"]],
               "line_no": str(int(row[ix["l_linenumber"]])),
               "quantity": str(int(row[ix["l_quantity"]])),
               "price": go_float(row[ix["l_extendedprice"]]),
               "discount": go_float(row[ix["l_discount"]]),
               "status": row[ix["l_linestatus"]].upper(),
               "ship_date": f"{y}-{m}-{d}"}
        last.pop(rec["l_orderkey"], None)  # last arrival wins
        last[rec["l_orderkey"]] = rec
    sink_cols = sorted(["l_orderkey", "line_no", "quantity", "price", "discount", "status",
                        "ship_date"])
    return {"sink": [sink_cols] + [[v[c] for c in sink_cols] for v in last.values()],
            "errors": [err_cols] + errors}


def corpus(seed: int, n: int) -> dict:
    """n documents; returns columns plus the planted duplicate structure.

    kind[i] is "orig", "copy" (byte-identical text of an earlier original)
    or "near" (an earlier original with ~5% of its words replaced);
    src[i] is the original a copy or near-duplicate was made from.
    """
    r = random.Random(seed)
    texts, langs, sources, kind, src, origs = [], [], [], [], [], []
    for i in range(n):
        x = r.random()
        if origs and x < COPY_SHARE + NEAR_SHARE:
            j = origs[_pick(r, len(origs))]
            words = texts[j].split()
            if x < COPY_SHARE:
                k = "copy"
            else:
                k = "near"
                for _ in range(max(1, round(len(words) * NEAR_EDIT))):
                    p = _pick(r, len(words))
                    words[p] = VOCAB[(VOCAB.index(words[p]) + 1 + _pick(r, len(VOCAB) - 1))
                                     % len(VOCAB)]
            texts.append(" ".join(words))
            langs.append(langs[j])
            kind.append(k)
            src.append(j)
        else:
            texts.append(" ".join(VOCAB[_pick(r, len(VOCAB))] for _ in range(10 + _pick(r, 91))))
            langs.append(_weighted(r, LANGS))
            kind.append("orig")
            src.append(i)
            origs.append(i)
        sources.append(f"src{_pick(r, SOURCES)}")
    return {"doc_id": list(range(n)), "text": texts, "lang": langs, "source": sources,
            "kind": kind, "src": src}


def write_docs(path, docs: dict, lo: int = 0, hi: int = None):
    hi = len(docs["doc_id"]) if hi is None else hi
    t = pa.table({
        "doc_id": pa.array(docs["doc_id"][lo:hi], pa.int64()),
        "text": pa.array(docs["text"][lo:hi], pa.string()),
        "lang": pa.array(docs["lang"][lo:hi], pa.string()),
        "source": pa.array(docs["source"][lo:hi], pa.string()),
        "n_chars": pa.array([len(t) for t in docs["text"][lo:hi]], pa.int64()),
    })
    pq.write_table(t, path)
