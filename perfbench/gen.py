"""Seeded input generator for the benchmark.

Everything the benchmark reads is made here from ``--seed``: the
defect-injected lineitem and its orders for the DQ workload (TPC-H columns
and value domains), and the document corpus of the curation workload
together with its ground truth. The same seed always gives byte-identical
tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "es", "zh", "de", "fr")
#: Shares of the corpus added as exact copies and as one-word edits.
DUP_SHARE = 0.03
NEAR_SHARE = 0.05
#: Orphan foreign keys are shifted past every real order key by this much.
ORPHAN_OFFSET = 10_000_000
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _table(cols: dict) -> pa.Table:
    return pa.table(
        {k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()}
    )


def _permute(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def _lineitem_cols(rng, n_li: int, n_orders: int, n_part: int, n_supp: int) -> dict:
    """Lineitem with a unique ``(l_orderkey, l_linenumber)`` key: every
    order gets 1..7 consecutive line numbers."""
    lines = rng.integers(1, 8, n_orders)
    lines = lines[: int(np.searchsorted(np.cumsum(lines), n_li)) + 1]
    orderkey = np.repeat(np.arange(len(lines), dtype=np.int64), lines)[:n_li]
    starts = np.repeat(np.cumsum(lines) - lines, lines)[:n_li]
    linenumber = (np.arange(len(orderkey)) - starts + 1).astype(np.int32)
    k = len(orderkey)
    qty = rng.integers(1, 51, k).astype(np.float64)
    return {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, k),
        "l_suppkey": rng.integers(0, n_supp, k),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, k), 2),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], k),
        "l_linestatus": rng.choice(["O", "F"], k),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2500, k) * _DAY_US),
    }


def dq_input(seed: int, rows: int) -> tuple[pa.Table, pa.Table, dict]:
    """``(lineitem, orders, defect_counts)`` for the DQ workload: a clean
    lineitem of ``rows`` rows with seeded defects — NULLs, out-of-range
    discounts, bad flags and orphan order keys."""
    rng = np.random.default_rng([seed, 7])
    n_orders = rows // 3 + 1
    cols = _lineitem_cols(rng, rows, n_orders, max(10, rows // 30), max(10, rows // 600))
    df = pa.table(cols).to_pandas()
    df["l_quantity"] = df["l_quantity"].astype("float64")
    k = len(df)
    counts: dict[str, int] = {}

    def pick(share: float) -> np.ndarray:
        return rng.choice(k, int(k * share), replace=False)

    for col, share in (("l_quantity", 0.015), ("l_extendedprice", 0.01)):
        idx = pick(share)
        df.loc[idx, col] = np.nan
        counts[f"null_{col}"] = len(idx)
    idx = pick(0.005)
    df.loc[idx, "l_returnflag"] = None
    counts["null_l_returnflag"] = len(idx)
    idx = pick(0.02)
    df.loc[idx, "l_discount"] = rng.choice([-0.05, 0.15, 0.25], len(idx))
    counts["bad_discount"] = len(idx)
    idx = pick(0.01)
    df.loc[idx, "l_returnflag"] = "X"
    counts["bad_returnflag"] = len(idx)
    idx = pick(0.005)
    df.loc[idx, "l_linestatus"] = "Z"
    counts["bad_linestatus"] = len(idx)
    idx = pick(0.02)
    df.loc[idx, "l_orderkey"] += ORPHAN_OFFSET
    counts["orphan_orderkey"] = len(idx)
    li = pa.Table.from_pandas(df, preserve_index=False)
    li = li.cast(pa.schema([
        pa.field(f.name, pa.int32() if f.name == "l_linenumber" else f.type)
        for f in li.schema
    ]))
    orders = tpch_orders(rng, n_orders, max(10, n_orders // 10))
    return _permute(li, rng), _permute(orders, rng), counts


def tpch_orders(rng: np.random.Generator, n: int, n_customers: int) -> pa.Table:
    return _table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n) * _DAY_US),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
    })


def _doc(rng: np.random.Generator, n_words: int) -> list[str]:
    return list(rng.choice(VOCAB, n_words))


def corpus(seed: int, *, n_docs: int) -> tuple[pa.Table, dict]:
    """A document table of ``n_docs`` base documents plus seeded exact
    copies and one-word edits, and its ground truth:
    ``{"exact": [(orig_id, copy_id)], "near": [(orig_id, edit_id, jaccard)]}``
    where ``jaccard`` is the exact word-3-shingle Jaccard of the pair.
    Copies and edits take ids above every base id."""
    rng = np.random.default_rng([seed, 11])
    lengths = rng.integers(10, 101, n_docs)
    texts = [_doc(rng, int(m)) for m in lengths]
    truth: dict = {"exact": [], "near": []}
    next_id = n_docs
    extra: list[list[str]] = []
    for i in rng.choice(n_docs, int(n_docs * DUP_SHARE), replace=False):
        truth["exact"].append((int(i), next_id))
        extra.append(list(texts[i]))
        next_id += 1
    long_ids = np.flatnonzero(lengths >= 60)
    for i in rng.choice(long_ids, min(len(long_ids), int(n_docs * NEAR_SHARE)), replace=False):
        edited = list(texts[i])
        pos = int(rng.integers(len(edited) // 3, 2 * len(edited) // 3))
        edited[pos] = "dup"
        truth["near"].append((int(i), next_id, shingle_jaccard(texts[i], edited)))
        extra.append(edited)
        next_id += 1
    all_texts = texts + extra
    ids = np.arange(len(all_texts), dtype=np.int64)
    body = [" ".join(w) for w in all_texts]
    table = _table({
        "doc_id": ids,
        "text": body,
        "lang": rng.choice(LANGS, len(ids)),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(b) for b in body], dtype=np.int64),
    })
    return table, truth


def shingle_jaccard(a: list[str], b: list[str], n: int = 3) -> float:
    sa = {tuple(a[i : i + n]) for i in range(len(a) - n + 1)}
    sb = {tuple(b[i : i + n]) for i in range(len(b) - n + 1)}
    return len(sa & sb) / len(sa | sb)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """Write each table to ``<out_dir>/<name>.parquet``; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths

