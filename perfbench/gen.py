"""Seeded input generator for the benchmark's three workloads.

Every table is drawn from ``numpy.random.default_rng(seed)`` streams and
written as one parquet file with pyarrow, so the same seed gives
byte-identical files. The shapes follow the engine's sf0.1 testdata
(TPC-H-ish star + ``events`` + ``documents``): uniform keys, the same
categorical domains, a 30-word corpus vocabulary with ~5% near-duplicate
documents (an earlier doc plus a ``dup`` token) and a few exact copies.

Layout under ``root``::

    etl/            region nation customer supplier orders lineitem events
    etl_slices/     slice_00.parquet ... (arrival slices of etl/events)
    corpus/         documents, embeddings (corpus-dedup)
    text/           documents (text-score-x10: a base corpus x10 replicas)
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
#: replica r > 0 of the text corpus offsets doc ids by r * OFFSET, as
#: tools/make_scale_dir.py does
OFFSET = 10**9


def _write(table: pa.Table, path: str) -> dict:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rng) -> dict[str, pa.Table]:
    """sf0.1-sized relational tables the etl-star read ops query."""
    n_cust, n_supp, n_ord, n_li = 15_000, 1_000, 150_000, 600_000
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, 20_000, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": flags,
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    return out


def events_table(rng, n: int = 100_000) -> pa.Table:
    """The arrival-ordered event log: ts ascending over 30 days."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def arrival_slices(
    rng, events: pa.Table, n_slices: int
) -> list[pa.Table]:
    """Split the event log into ``n_slices`` contiguous arrival slices.

    A seeded share of each later slice re-delivers rows of earlier slices
    (same key; the sink's idempotency anti-join must drop them) and a
    seeded share of rows lose a required column (``user_id`` or
    ``event_type`` null; the writer's NOT NULL gate must reject them)."""
    n = events.num_rows
    cuts = np.linspace(0, n, n_slices + 1).astype(int)
    redeliver_share = rng.uniform(0.02, 0.06)
    null_share = rng.uniform(0.005, 0.02)
    out = []
    for i in range(n_slices):
        part = events.slice(cuts[i], cuts[i + 1] - cuts[i])
        m = part.num_rows
        null_rows = rng.random(m) < null_share
        null_user = null_rows & (rng.random(m) < 0.5)
        null_type = null_rows & ~null_user
        user = np.where(null_user, None, part["user_id"].to_numpy(zero_copy_only=False))
        etype = np.where(null_type, None, part["event_type"].to_numpy(zero_copy_only=False))
        part = part.set_column(2, "user_id", pa.array(user, pa.int64()))
        part = part.set_column(3, "event_type", pa.array(etype, pa.string()))
        if i > 0:
            k = int(m * redeliver_share)
            again = np.sort(rng.choice(cuts[i], k, replace=False))
            part = pa.concat_tables([part, events.take(again)])
        out.append(part)
    return out


def documents(rng, n: int) -> pa.Table:
    """A corpus shaped like sf0.1 ``documents``: 10-100 words from a
    30-word vocabulary, ``source`` = src(doc_id mod 20), ~5% near-dups
    (a random earlier doc + " dup") and ~0.2% exact copies. The seed
    decides which documents duplicate which."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(vocab), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(vocab[words[e - k : e]]) for e, k in zip(ends, lens)]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit-scale random vectors with ids 0..n-1 (PIPE-DOCS joins doc ids
    to vector ids for its embedding-coverage flag)."""
    vecs = (rng.standard_normal((n, dim)) / 8).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def replicate_docs(rng, base: pa.Table, factor: int) -> pa.Table:
    """``factor`` replicas of ``base``; replica r > 0 appends a seeded salt
    token so exact/near-dup structure repeats per replica instead of
    forming factor-member duplicate groups."""
    salts = [
        "".join(chr(ord("a") + c) for c in rng.integers(0, 26, 6))
        for _ in range(factor)
    ]
    parts = [base]
    text = base["text"].to_pylist()
    for r in range(1, factor):
        t = [f"{s} {salts[r]}{r}" for s in text]
        parts.append(
            pa.table(
                {
                    "doc_id": pc.add(base["doc_id"], r * OFFSET),
                    "text": t,
                    "lang": base["lang"],
                    "source": base["source"],
                    "n_chars": np.array([len(s) for s in t], dtype=np.int64),
                }
            )
        )
    return pa.concat_tables(parts)


def generate(
    root: str,
    seed: int,
    workload: str,
    n_slices: int = 0,
    corpus_docs: int = 0,
    text_base_docs: int = 0,
    text_factor: int = 10,
) -> dict[str, dict]:
    """Write the inputs one workload reads; return {name: {rows, bytes}}.

    Each workload draws from its own seeded stream, so its files depend
    only on ``seed`` and its own size arguments."""
    salt = {"etl-star": 1, "corpus-dedup": 2, "text-score-x10": 3}[workload]
    rng = np.random.default_rng([seed, salt])
    inputs: dict[str, dict] = {}
    if workload == "etl-star":
        for name, table in star_tables(rng).items():
            inputs[name] = _write(table, os.path.join(root, "etl", f"{name}.parquet"))
        events = events_table(rng)
        inputs["events"] = _write(events, os.path.join(root, "etl", "events.parquet"))
        for i, part in enumerate(arrival_slices(rng, events, n_slices)):
            inputs[f"slice_{i:02d}"] = _write(
                part, os.path.join(root, "etl_slices", f"slice_{i:02d}.parquet")
            )
    elif workload == "corpus-dedup":
        inputs["documents"] = _write(
            documents(rng, corpus_docs),
            os.path.join(root, "corpus", "documents.parquet"),
        )
        inputs["embeddings"] = _write(
            embeddings(rng, corpus_docs * 2 // 5),
            os.path.join(root, "corpus", "embeddings.parquet"),
        )
    else:
        docs = replicate_docs(rng, documents(rng, text_base_docs), text_factor)
        inputs["documents"] = _write(
            docs, os.path.join(root, "text", "documents.parquet")
        )
    return inputs
