"""Seeded synthetic inputs for the benchmark.

Every table is a pure function of ``(seed, scale)``: the same seed gives
byte-identical pandas frames, so staged files, operation streams and the
tables they build are identical from run to run. Schemas follow the
engine's star-schema testdata (TPC-H-ish tables plus ``events``,
``documents`` and ``embeddings``) so the registry's queries run on them
unchanged. ``scale`` is the share of TPC-H sf1 row counts (0.01 gives
15 000 orders and about 60 000 line items).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# the engine's testdata vocabulary heads a Zipf-distributed long tail, so
# random documents rarely overlap and near-duplicates stand out
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big "
    "sort query fast"
).split() + ["a", "the"] + [f"w{i:04d}" for i in range(3000)]
VOCAB_P = 1.0 / np.arange(1, len(VOCAB) + 1)
VOCAB_P /= VOCAB_P.sum()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent generator per table, so adding a column to one
    table never shifts the values of another."""
    return np.random.default_rng([seed, stream])


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return EPOCH_1995 + rng.integers(0, span, n).astype("timedelta64[D]")


def orders(seed: int, scale: float) -> pd.DataFrame:
    n = int(150_000 * scale)
    n_cust = int(15_000 * scale)
    rng = _rng(seed, 1)
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n).astype("int64"),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n),
            "o_totalprice": np.round(rng.uniform(900, 450_000, n), 2),
            "o_orderdate": _days(rng, n, 2400),
            "o_orderpriority": rng.choice(
                np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                ),
                n,
            ),
        }
    )


def lineitem(seed: int, scale: float) -> pd.DataFrame:
    n_orders = int(150_000 * scale)
    n = 4 * n_orders  # fixed, so every seed gives the same row count
    rng = _rng(seed, 2)
    okey = np.sort(rng.integers(0, n_orders, n))
    starts = np.searchsorted(okey, okey, side="left")
    qty = rng.integers(1, 51, n).astype("float64")
    return pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, int(200_000 * scale), n).astype("int64"),
            "l_suppkey": rng.integers(0, int(10_000 * scale), n).astype("int64"),
            "l_linenumber": (np.arange(n) - starts + 1).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": _days(rng, n, 2500),
        }
    )


def customer(seed: int, scale: float) -> pd.DataFrame:
    n = int(15_000 * scale)
    rng = _rng(seed, 3)
    keys = np.arange(n, dtype="int64")
    return pd.DataFrame(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
            "c_mktsegment": rng.choice(
                np.array(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
                ),
                n,
            ),
        }
    )


def events(seed: int, n: int) -> pd.DataFrame:
    rng = _rng(seed, 4)
    ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * DAY_US, n
    ).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": np.sort(ts),
            "user_id": rng.integers(0, 150, n).astype("int64"),
            "event_type": rng.choice(
                np.array(["click", "view", "purchase", "signup", "error"]), n
            ),
            "value": np.round(rng.uniform(0, 100, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents(seed: int, n: int) -> pd.DataFrame:
    """Bag-of-words documents; about 5% are near-duplicates (an earlier
    document plus one token), so the dedup queries find real pairs."""
    rng = _rng(seed, 5)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(vocab, k, p=VOCAB_P)) for k in lengths]
    dup = np.flatnonzero(rng.random(n) < 0.05)
    for i in dup[dup > 0]:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64, clusters: int = 10) -> pd.DataFrame:
    """Unit vectors around ``clusters`` random centres; ``label`` is the
    centre, so near neighbours mostly share a label."""
    rng = _rng(seed, 6)
    centres = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = centres[label] + rng.normal(scale=1.6, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(vecs.astype("float32")),
            "label": label.astype("int32"),
        }
    )


def commit_rows(seed: int, stream: int, ids: np.ndarray) -> pd.DataFrame:
    """Rows of the ``table_commits`` table for the given ids: one
    generator per batch (``stream``), so every batch is fixed by the
    seed and its position in the operation stream alone."""
    rng = _rng(seed, 1000 + stream)
    n = len(ids)
    return pd.DataFrame(
        {
            "id": ids.astype("int64"),
            "k": rng.integers(0, 64, n).astype("int32"),
            "qty": rng.integers(1, 100, n).astype("int64"),
            "price": np.round(rng.uniform(1, 1000, n), 2),
            "tag": rng.choice(np.array(["new", "upd", "hot", "cold"]), n),
        }
    )
