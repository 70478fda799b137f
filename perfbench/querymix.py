"""``query_mix``: read-only ``registry.queries()`` entries, mostly
LLM-curation operations, over seeded tables staged as parquet.

A round is one pass over ``QUERIES``. Each query is planned
(``registry`` call) and then collected to the driver, which is what a
user of the query waits for. Outputs with a ``registry.oracle_sql()``
entry are compared with DuckDB's answer on the same files; the
approximate (LSH) queries are checked against stated invariants computed
exactly on the driver. No table is written, so this workload is the
no-change control for writer and commit-log work.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

import datagen
from common import canon, median

from data_lakehouse_project_spark import registry

SCALE = 0.01
N_DOCS = 2_000
N_EMB = 1_000
MINHASH_T = 0.7  # the threshold q_dedup_minhash_pairs_lsh16 uses
MINHASH_SURE = 0.9  # LSH misses a pair this similar with p < 1e-7
PAIRS_T = 0.3  # the threshold q_embedding_pairs_lsh uses
# query -> the tables it reads
QUERIES = {
    # curation (ext.dedup, ext.similarity, ext.text, ext.curation, ext.multimodal)
    "dedup_minhash_pairs_lsh16": ("documents",),
    "dedup_substring_spans": ("documents",),
    "embedding_pairs_lsh": ("embeddings",),
    "bm25_search_topk": ("documents",),
    "text_stats": ("documents",),
    "dsir_importance_weights": ("documents",),
    "video_frame_stats": ("documents",),
    # join + aggregate, window
    "join_lineitem_orders": ("lineitem", "orders"),
    "window_topk_per_customer": ("orders",),
}
TABLES = {
    "documents": lambda seed: datagen.documents(seed, N_DOCS),
    "embeddings": lambda seed: datagen.embeddings(seed, N_EMB),
    "lineitem": lambda seed: datagen.lineitem(seed, SCALE),
    "orders": lambda seed: datagen.orders(seed, SCALE),
}


def _token_jaccard(texts: list[str]) -> np.ndarray:
    """Exact all-pairs Jaccard of lower-cased whitespace token sets."""
    sets = [set(t.lower().split()) for t in texts]
    index = {w: i for i, w in enumerate(sorted(set().union(*sets)))}
    m = np.zeros((len(sets), len(index)), dtype=np.float32)
    for r, s in enumerate(sets):
        m[r, [index[w] for w in s]] = 1.0
    inter = m @ m.T
    size = m.sum(axis=1)
    return inter / (size[:, None] + size[None, :] - inter)


class QueryMix:
    name = "query_mix"
    nominal_round_s = 8.0  # one pass, warm, on the reference host (see run.round_count)

    def stage(self, run, root: str) -> None:
        self.dir = os.path.join(root, "tables")
        os.makedirs(self.dir)
        frames = {}
        for name, make in TABLES.items():
            frames[name] = make(run.seed)
            frames[name].to_parquet(os.path.join(self.dir, f"{name}.parquet"), index=False)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.dir, f"{n}.parquet")) for n in TABLES
        )
        oracle = registry.oracle_sql()
        con = duckdb.connect()
        for name in TABLES:
            path = os.path.join(self.dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {q: canon(con.execute(oracle[q]).df()) for q in QUERIES if q in oracle}
        con.close()
        self.jaccard = _token_jaccard(frames["documents"]["text"].tolist())
        self.sure_pairs = {
            (int(i), int(j)) for i, j in np.argwhere(np.triu(self.jaccard >= MINHASH_SURE, k=1))
        }
        vecs = np.stack(frames["embeddings"]["embedding"].to_numpy()).astype(np.float64)
        self.cosine = vecs @ vecs.T
        self.queries = registry.queries()
        self.rows_read = {
            q: sum(len(frames[t]) for t in tables) for q, tables in QUERIES.items()
        }

    def warm(self, run) -> None:
        self.round(run)

    def round(self, run) -> None:
        for q in QUERIES:

            def query(q=q):
                # planning runs the registry's eager driver-side steps
                with run.tracer.span("registry.plan"):
                    df = self.queries[q](run.spark, self.dir)
                return df.toPandas()

            got = run.op(q, f"query.{q}", query, rows=self.rows_read[q])
            if got is not None:
                why = self._check(q, got)
                run.check(why is None, f"{q}: {why}")

    def _check(self, q: str, got) -> str | None:
        if q in self.expected:
            return None if canon(got) == self.expected[q] else "differs from the DuckDB oracle"
        if q == "dedup_minhash_pairs_lsh16":
            a, b = got["id_a"].to_numpy(), got["id_b"].to_numpy()
            exact = self.jaccard[a, b]
            if not (a < b).all():
                return "pair not ordered id_a < id_b"
            if not (exact >= MINHASH_T - 1e-6).all():
                return "pair below the Jaccard threshold"
            if not np.allclose(got["jaccard"].to_numpy(), exact, atol=1e-5):
                return "reported Jaccard differs from the exact value"
            if not self.sure_pairs <= set(zip(a.tolist(), b.tolist())):
                return f"missed a pair with Jaccard >= {MINHASH_SURE}"
            return None
        if q == "embedding_pairs_lsh":
            a, b = got["id_a"].to_numpy(), got["id_b"].to_numpy()
            exact = self.cosine[a, b]
            if len(got) == 0 or not (a < b).all():
                return "no pairs, or a pair not ordered id_a < id_b"
            if len(set(zip(a.tolist(), b.tolist()))) != len(got):
                return "duplicate pair"
            if not (exact >= PAIRS_T - 1e-5).all():
                return "pair below the cosine threshold"
            if not np.allclose(got["score"].to_numpy(), exact, atol=1e-5):
                return "reported cosine differs from the exact value"
            return None
        return "no oracle and no invariant"

    def end_state(self, run) -> dict:
        # nothing is written; the staged inputs are all live
        return {
            "bytes_written": 0,
            "input_bytes": self.input_bytes,
            "disk_bytes": self.input_bytes,
            "live_bytes": self.input_bytes,
            "rows_per_round": sum(self.rows_read.values()),
        }

    def layer_metrics(self, run, layers, traced_rounds: int) -> dict:
        out = {"registry.plan_s": layers.get("registry.plan", {}).get("self_s", 0.0) / traced_rounds}
        for q in QUERIES:
            out[f"query.{q}_s"] = median(
                [s.end - s.start for s in run.tracer.spans if s.name == f"query.{q}"]
            )
        return out

    def report(self, run) -> dict:
        out = {"pass_s": (median(run.round_s[False]), "s", len(run.round_s[False]))}
        for q in QUERIES:
            s = run.samples[False][q]
            out[f"{q}_p50_s"] = (median(s), "s", len(s))
        return out

