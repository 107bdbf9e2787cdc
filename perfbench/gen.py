"""Seeded input generator for the benchmark workloads.

Runs as its own process, before the measured process starts, so none
of its time lands in a metric.  The same ``--seed`` always writes the
same bytes.  Usage::

    python3 perfbench/gen.py --workload llm_curation --seed 1 [--size bench] --out DIR

Writes a JSON manifest (``DIR/manifest.json``) with row counts and
input bytes that the measured process copies into its output.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Row counts per size.  ``sf0.1`` matches the row counts of the
#: engine's sf0.1 fixtures (150k orders, 600k line items, 100k events,
#: 5000 documents, 2000 embeddings); ``bench`` is what a benchmark run
#: uses: 1/25 of the lake's counts and 1/5 of the documents, so that a
#: full measurement fits its time budget and a run's window holds
#: several passes.  ``perfbench/README.md`` compares the per-layer split
#: of the two sizes.
SIZES = {
    "bench": {
        "ingest_lake": {"orders_per_batch": 3000, "lines_per_batch": 12000,
                        "customers": 2000, "events_per_batch": 2000},
        "llm_curation": {"docs": 1000, "vectors": 2000},
    },
    "sf0.1": {
        "ingest_lake": {"orders_per_batch": 75000, "lines_per_batch": 300000,
                        "customers": 15000, "events_per_batch": 50000},
        "llm_curation": {"docs": 5000, "vectors": 2000},
    },
}
#: Shapes that do not change with the size.
LAKE = {"batches": 2, "update_share": 0.3, "dup_share": 0.05}
LLM = {"near_dup_share": 0.08, "exact_dup_share": 0.01, "dim": 64, "centers": 10,
       "vec_dup_share": 0.03}

VOCAB = ("query row stream the batch sort value hash filter big data dup spark "
         "line small fast group customer part column order scan a slow agg key "
         "window table merge vector join").split()
LANGS = np.array(["en", "fr", "es", "de", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SENTINELS = np.array(["N/A", "NULL", "", "-"])

#: The raw drops carry un-normalized column names, as a source system
#: would; the pipeline's normalize_columns step maps them to these.
RAW_ORDER_COLS = {
    "o_orderkey": " O OrderKey", "o_custkey": "O_CustKey ",
    "o_orderstatus": "o_orderstatus", "o_totalprice": "O_TotalPrice",
    "o_orderdate": "o_orderdate", "o_orderpriority": "O OrderPriority",
    "updated_at": "Updated At",
}
EPOCH_2024_US = 1704067200 * 1_000_000


def _fmt_money(x: np.ndarray) -> np.ndarray:
    return np.char.mod("%.2f", x)


def gen_lake(rng: np.random.Generator, out: str, rows: dict) -> dict:
    c = {**LAKE, **rows}
    n_orders, n_lines = 0, 0
    next_key, next_event = 0, 0
    for b in range(c["batches"]):
        bdir = os.path.join(out, "drops", f"b{b}")
        os.makedirs(bdir)
        n = c["orders_per_batch"]
        n_upd = int(n * c["update_share"]) if next_key else 0
        keys = np.concatenate([
            rng.choice(next_key, n_upd, replace=False) if n_upd else np.empty(0, np.int64),
            np.arange(next_key, next_key + n - n_upd),
        ]).astype(np.int64)
        next_key += n - n_upd
        rng.shuffle(keys)
        # updated_at grows by batch, so an update always wins its key
        upd = (b * 86_400 + rng.permutation(n)).astype(np.int64)
        status = rng.choice(STATUSES, n).astype(object)
        prio = rng.choice(PRIORITIES, n).astype(object)
        price = _fmt_money(rng.uniform(1000, 500000, n)).astype(object)
        days = rng.integers(0, 2403, n)
        odate = (np.datetime64("1995-01-01") + days).astype("datetime64[D]").astype(str)
        # dirt: padded strings, null sentinels, unparseable prices
        pad = _pick(rng, n, 0.2)
        status[pad] = np.char.add(np.char.add("  ", status[pad].astype(str)), " ")
        blank = _pick(rng, n, 0.05)
        prio[blank] = rng.choice(SENTINELS, len(blank))
        bad = _pick(rng, n, 0.02)
        price[bad[: len(bad) // 2]] = "n/a"
        price[bad[len(bad) // 2:]] = "12x.5"
        cols = {
            "o_orderkey": keys.astype(str), "o_custkey": rng.integers(0, c["customers"], n).astype(str),
            "o_orderstatus": status, "o_totalprice": price, "o_orderdate": odate,
            "o_orderpriority": prio,
            "updated_at": (np.datetime64("2024-01-01T00:00:00") + upd.astype("timedelta64[s]")).astype(str),
        }
        thirds = np.array_split(np.arange(n), 3)
        frames = [pa.table({RAW_ORDER_COLS[k]: pa.array(np.asarray(v)[idx].astype(str))
                            for k, v in cols.items()}) for idx in thirds]
        pacsv.write_csv(frames[0], os.path.join(bdir, "orders.csv"))
        with open(os.path.join(bdir, "orders.jsonl"), "w") as f:
            for row in frames[1].to_pylist():
                f.write(json.dumps(row) + "\n")
        pq.write_table(frames[2], os.path.join(bdir, "orders.parquet"))
        m = c["lines_per_batch"]
        lines = pa.table({
            "l_orderkey": pa.array(rng.choice(keys, m)),
            "l_partkey": pa.array(rng.integers(0, 20000, m, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1000, m, dtype=np.int64)),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, m), 2)),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        })
        pq.write_table(lines, os.path.join(bdir, "lineitem.parquet"))
        # events: one time-ordered file per batch, with a share re-sent
        # seconds later (duplicates the stateful dedup removes); no event
        # is late by more than the 10-minute watermark
        edir = os.path.join(out, "events", f"b{b}")
        os.makedirs(edir)
        k = c["events_per_batch"]
        ids = np.arange(next_event, next_event + k, dtype=np.int64)
        next_event += k
        ts = EPOCH_2024_US + b * 6 * 3600 * 1_000_000 + np.sort(rng.integers(0, 3600 * 1_000_000, k))
        n_dup = int(k * c["dup_share"])
        pick = rng.choice(k, n_dup, replace=False)
        ids = np.concatenate([ids, ids[pick]])
        ts = np.concatenate([ts, ts[pick] + rng.integers(1, 30_000_000, n_dup)])
        user = rng.integers(0, 150, k)
        etype = rng.choice(EVENT_TYPES, k)
        val = np.round(rng.exponential(50.0, k), 2)
        ev = pa.table({
            "event_id": pa.array(ids),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(np.concatenate([user, user[pick]]).astype(np.int64)),
            "event_type": pa.array(np.concatenate([etype, etype[pick]])),
            "value": pa.array(np.concatenate([val, val[pick]])),
        })
        path = os.path.join(edir, "part_000.parquet")
        pq.write_table(ev, path)
        os.utime(path, (1_700_000_000,) * 2)
        n_orders += n
        n_lines += m
    return {"orders_rows": n_orders, "lineitem_rows": n_lines,
            "events_rows": next_event, "batches": c["batches"]}


def _pick(rng: np.random.Generator, n: int, share: float, low: int = 0) -> np.ndarray:
    """A seeded choice of exactly ``round(share * n)`` positions in
    [low, n): the seed moves where the planted rows are, never how many."""
    return low + rng.choice(n - low, int(round(share * n)), replace=False)


def gen_llm(rng: np.random.Generator, out: str, rows: dict) -> dict:
    c = {**LLM, **rows}
    n = c["docs"]
    vocab = np.array(VOCAB)
    kind = np.zeros(n, dtype=int)  # 0 fresh, 1 exact copy, 2 near copy
    planted = _pick(rng, n, c["exact_dup_share"] + c["near_dup_share"], low=10)
    n_exact = int(round(c["exact_dup_share"] * n))
    kind[planted[:n_exact]] = 1
    kind[planted[n_exact:]] = 2
    lengths = rng.permutation(8 + np.arange(n) * 92 // n)
    texts: list[str] = []
    for i in range(n):
        if kind[i] == 0:
            texts.append(" ".join(rng.choice(vocab, int(lengths[i]))))
            continue
        words = texts[rng.integers(0, i)].split(" ")
        if kind[i] == 2:
            swap = rng.random(len(words)) < 0.08
            words = [str(rng.choice(vocab)) if s else w for w, s in zip(words, swap)]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.permutation(np.repeat(LANGS, np.round(np.array(LANG_P) * n).astype(int)))),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    m, dim = c["vectors"], c["dim"]
    centers = rng.normal(0, 1, (c["centers"], dim))
    label = rng.permutation(np.arange(m) % c["centers"]).astype(np.int32)
    vec = centers[label] + rng.normal(0, 1.2, (m, dim))
    dups = _pick(rng, m, c["vec_dup_share"], low=4)
    vec[dups] = vec[dups - 1 - rng.integers(0, 3, len(dups))] + rng.normal(0, 0.05, (len(dups), dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    return {"documents_rows": n, "embeddings_rows": m}


GENERATORS = {"ingest_lake": gen_lake, "llm_curation": gen_llm}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="bench")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out)
    # one stream per workload, so adding a workload never shifts another's inputs
    rng = np.random.default_rng([a.seed, sorted(GENERATORS).index(a.workload)])
    rows = SIZES[a.size][a.workload]
    manifest = GENERATORS[a.workload](rng, a.out, rows)
    manifest["config"] = {"size": a.size, **rows,
                          **(LAKE if a.workload == "ingest_lake" else LLM)}
    manifest["input_bytes"] = sum(os.path.getsize(os.path.join(d, f))
                                  for d, _, fs in os.walk(a.out) for f in fs)
    with open(os.path.join(a.out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)


if __name__ == "__main__":
    main()
