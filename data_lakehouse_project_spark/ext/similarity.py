"""Similarity search over embedding columns (array<float>).

Two tiers (SURVEY §2.8):

- **Brute-force top-k** (`cosine_topk`) — the exactness baseline: the query
  vector is a *literal broadcast into the plan* (no join at all), cosine is
  a JVM expression (`zip_with` dot product + `aggregate` norms), top-k is a
  single `orderBy ... limit k` (Spark plans TakeOrderedAndProject — no full
  sort materialization). Scales linearly: one scan, no shuffle of data rows.
- **LSH-bucketed ANN** (`ann_lsh_topk`, `cosine_pairs_lsh`) — the 100 TB
  path: sign-random-projection buckets (H seeded hyperplanes → H-bit
  bucket id). Queries probe only their own bucket (and optionally
  multiprobe neighbors); pairwise similarity joins only meet inside
  buckets, Σ|bucket|² not n².

All math in double precision after an exact float→double widening so
results are reproducible against external oracles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from data_lakehouse_project_spark.cacheutil import release_on_gc
from data_lakehouse_project_spark.functions.scalar import lit_double_array


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns — pure JVM exprs."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


_cosine_batch_cached = None


def _cosine_batch():
    """Arrow-vectorized batch cosine for PAIR verification.

    Spark's higher-order functions (zip_with/aggregate) evaluate
    interpreted with per-element boxing — fine for one query vector per
    scan row, too slow for millions of candidate pairs. This kernel moves
    whole Arrow batches into numpy: one einsum per batch (~100ns/pair vs
    ~10µs/pair interpreted). Built lazily: pandas_udf registration needs
    an active SparkSession, so it cannot run at import time.
    """
    global _cosine_batch_cached
    if _cosine_batch_cached is None:

        @pandas_udf("double")
        def kernel(a: pd.Series, b: pd.Series) -> pd.Series:
            va = np.stack(a.to_numpy())
            vb = np.stack(b.to_numpy())
            dots = np.einsum("ij,ij->i", va, vb)
            norms = np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
            return pd.Series(dots / norms)

        _cosine_batch_cached = kernel
    return _cosine_batch_cached


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The query vector enters the plan as an array literal — Catalyst
    constant-folds the query norm; execution is scan → project(score) →
    TakeOrderedAndProject(k). Ties broken by id for determinism.
    """
    q = lit_double_array(query)
    score = cosine(_as_double(F.col(vec_col)), q)
    return (
        df.select(F.col(id_col), F.round(score, round_to).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim))


def bucket_id(vec: Column, planes: np.ndarray) -> Column:
    """H-bit sign-random-projection bucket id as a long (H <= 63)."""
    bits = []
    for i, p in enumerate(planes):
        plane = lit_double_array(p)
        bits.append(
            F.when(_dot(vec, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def add_lsh_buckets(
    df: DataFrame, vec_col: str, num_planes: int = 8, dim: int = 64, seed: int = 42
) -> DataFrame:
    """Append a `bucket` column; at scale, write the table partitioned or
    bucketed by it so ANN probes are partition-pruned scans."""
    planes = _hyperplanes(dim, num_planes, seed)
    return df.withColumn("bucket", bucket_id(_as_double(F.col(vec_col)), planes))


def ann_lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    num_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    `multiprobe_hamming` bits of the query's bucket.

    With H planes the probe covers ~(1 + H + ...)/2^H of the data — at
    H=8, probing hamming<=1 scans ~3.5% of rows; recall is tuned by H and
    the probe radius. The bucket filter is a plain predicate ⇒ partition
    pruning applies when the table is stored PRE-bucketed by
    ``add_lsh_buckets`` (the deployment shape). On-the-fly buckets use
    JVM expressions: H dots per row is cheap; the Arrow matmul kernel
    only pays off in the pair-join paths (measured — Arrow IPC overhead
    beats 8 interpreted dots at single-query scan shape).
    """
    planes = _hyperplanes(len(query), num_planes, seed)
    qsigns = (planes @ np.asarray(query, dtype=np.float64)) >= 0
    qbucket = int(sum(1 << i for i, s in enumerate(qsigns) if s))

    bucketed = add_lsh_buckets(df, vec_col, num_planes, len(query), seed)
    probe = F.bit_count(
        F.col("bucket").bitwiseXOR(F.lit(qbucket))
    ) <= multiprobe_hamming

    q = lit_double_array(query)
    score = cosine(_as_double(F.col(vec_col)), q)
    return (
        bucketed.where(probe)
        .select(F.col(id_col), F.round(score, round_to).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def cosine_pairs_exact(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    round_to: int = 6,
) -> DataFrame:
    """All pairs with cosine >= threshold, exact (bucket-free self-join).

    O(n²) — correctness baseline for small/medium tables and the oracle
    anchor for `cosine_pairs_lsh`. Do not run at 100 TB; that's what the
    LSH variant is for.
    """
    a = df.select(
        F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("score", F.round(cosine(F.col("va"), F.col("vb")), round_to))
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def cosine_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    num_planes: int = 4,
    num_tables: int = 8,
    seed: int = 42,
    round_to: int = 6,
    verify: str = "auto",
    broadcast_max_bytes: int = 64 << 20,
    driver_pairs_max: int = 4_000_000,
) -> DataFrame:
    """Near-duplicate embedding pairs via multi-table LSH (the scale path).

    L independent hash tables of H hyperplanes each: a pair is a candidate
    if it collides in ANY table, then exact cosine verifies (precision 1).
    Single-bit-per-plane recall for cosine>=t is p=(1-acos(t)/π)^H per
    table, so overall recall = 1-(1-p)^L — e.g. t=0.8, H=4, L=8 → 0.98.

    Plan shape: project bucket arrays → posexplode (L rows/vector) →
    shuffle on (table, bucket) → within-bucket join. A pair colliding in
    several tables is emitted ONLY from its first colliding table (the
    `canonical` filter below) — that replaces a full `distinct()` shuffle
    of the candidate set with a cheap ≤L-element array check on each
    joined row. Σ|bucket|² work, no crossJoin; AQE splits skewed buckets.

    Verification strategies:
    - ``join`` — attach both vectors via two hash joins, score with the
      Arrow batch kernel. Fully distributed; the 100 TB path.
    - ``broadcast`` — collect the (id → vector) matrix to the driver and
      broadcast it; score candidates with one map-only `mapInPandas`
      (einsum over the batch), no vector ever enters a shuffle. Wins
      whenever the vector table fits in executor memory.
    - ``auto`` (default) — ``broadcast`` when Catalyst's optimized-plan
      size estimate is at most ``broadcast_max_bytes``, else ``join``.
      The estimate is free (no job): a count() gate here cost a full
      extra pass over the vector table before any work, at exactly the
      scale where the answer is always "join" (round-4 verdict). The
      estimate errs large on unknown sources, which safely degrades to
      the distributed path.

    Note: the broadcast path rounds with numpy (half-even) vs Spark's
    HALF_UP — they differ only when a score lands exactly on a 1e-6
    boundary, which the >= threshold filter makes measure-zero in
    practice; the exact-pairs oracle anchors correctness either way.

    ``driver_pairs_max`` (same contract as graph.pagerank's
    ``small_graph``): when the vector table already sits on the driver
    (the broadcast route) AND the exact LSH candidate-pair mass
    (Σ_table Σ_bucket C(|bucket|,2), computed from the same bucket ids
    the distributed kernel would emit) is at most this bound, the whole
    bucket → collide → verify pipeline runs vectorized on the driver —
    one numpy matmul + per-bucket pair expansion + one einsum — instead
    of paying three python-stage launches plus a self-join exchange of
    a few thousand rows (~1.5 s of fixed cost at sf0.1 for µs of real
    work). Pair set and scores are IDENTICAL to the distributed
    broadcast route: same planes, same sign rule, same unordered-pair
    dedup across tables, same einsum/np.round scoring (CI-pinned,
    tests/test_ext.py::test_cosine_pairs_lsh_driver_route_parity). 0
    disables; past the bound (real corpora) the distributed pipeline
    engages unchanged.
    """
    # resolve the verify strategy FIRST so the broadcast path needs just
    # one driver job (the toPandas collect yields count, dim, and the
    # matrix together instead of stats + first() + collect())
    pdf = None
    if verify == "auto":
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        verify = "broadcast" if est <= broadcast_max_bytes else "join"
    if verify == "broadcast":
        pdf = df.select(F.col(id_col).alias("id"), F.col(vec_col)).toPandas()
        dim = len(pdf[vec_col].iloc[0])
    else:
        dim = len(df.select(vec_col).first()[0])

    planes_all = np.concatenate(
        [_hyperplanes(dim, num_planes, seed + 1000 * t) for t in range(num_tables)]
    )  # (L*H, dim)

    # the collected vectors, stacked once for the driver route and the
    # broadcast verify alike
    mat = (
        np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        if pdf is not None
        else None
    )
    if pdf is not None and driver_pairs_max:
        # driver fast path (see docstring): bucket ids computed here are
        # bit-identical to the all_buckets kernel below (same matmul,
        # same sign rule, same weights)
        bits = (mat @ planes_all.T) >= 0
        bits = bits.reshape(len(mat), num_tables, num_planes)
        weights = 1 << np.arange(num_planes)
        vals = (bits * weights).sum(axis=2)  # (n, L)
        mass = 0
        for t in range(num_tables):
            _, cnt = np.unique(vals[:, t], return_counts=True)
            mass += int((cnt.astype(np.int64) * (cnt - 1) // 2).sum())
        if mass <= driver_pairs_max:
            id_type = df.schema[id_col].dataType.simpleString()
            return _cosine_pairs_driver(
                df.sparkSession,
                pdf["id"].to_numpy(),
                mat,
                vals,
                threshold,
                round_to,
                id_type,
            )

    @pandas_udf("array<bigint>")
    def all_buckets(v: pd.Series) -> pd.Series:
        # one matmul computes every table's bucket for the whole Arrow
        # batch — measured ~10× faster than L*H interpreted zip_with dots
        m = np.stack(v.to_numpy()).astype(np.float64)
        bits = (m @ planes_all.T) >= 0  # (n, L*H)
        bits = bits.reshape(len(m), num_tables, num_planes)
        weights = 1 << np.arange(num_planes)
        vals = (bits * weights).sum(axis=2)  # (n, L)
        return pd.Series([row.tolist() for row in vals])

    # the self-join reads this projection twice and Spark does not reuse
    # the exchange across the two sides — persist the banded triples
    # (id, buckets, tbl, bucket) so the bucket computation runs once.
    # Fan out an under-partitioned input first: the bucket matmul is the
    # heavy map stage and a single-split scan serializes it behind one
    # task (measured 1.6x at sf0.1; no-op on multi-split inputs).
    from data_lakehouse_project_spark.ext.skew import fan_out_input

    df = fan_out_input(df, id_col)
    banded = df.select(
        F.col(id_col).alias("id"),
        all_buckets(F.col(vec_col)).alias("bkts"),
    ).select(
        "id", "bkts", F.posexplode("bkts").alias("tbl", "bucket")
    ).persist()

    a = banded.select(
        F.col("id").alias("id_a"), F.col("bkts").alias("bkts_a"), "tbl", "bucket"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("bkts").alias("bkts_b"), "tbl", "bucket"
    )
    # canonical-table dedup: drop the pair here if it already collided in
    # an earlier table (tbl is 0-based, slice length tbl = entries < tbl)
    canonical = ~F.expr(
        "exists(zip_with(slice(bkts_a, 1, tbl), slice(bkts_b, 1, tbl),"
        " (x, y) -> x = y), z -> z)"
    )
    cand = (
        a.join(b, ["tbl", "bucket"])
        .where((F.col("id_a") < F.col("id_b")) & canonical)
        .select("id_a", "id_b")
    )

    if verify == "broadcast":
        norms = np.linalg.norm(mat, axis=1)
        pos = pd.Series(np.arange(len(pdf)), index=pdf["id"].to_numpy())
        bc = df.sparkSession.sparkContext.broadcast((mat, norms, pos))
        id_type = df.schema[id_col].dataType.simpleString()

        def score_batches(batches):
            m, nrm, p = bc.value
            for pb in batches:
                ia = p.loc[pb["id_a"]].to_numpy()
                ib = p.loc[pb["id_b"]].to_numpy()
                sc = np.einsum("ij,ij->i", m[ia], m[ib]) / (nrm[ia] * nrm[ib])
                out = pb.assign(score=np.round(sc, round_to))
                yield out[out["score"] >= threshold]

        return release_on_gc(
            cand.mapInPandas(
                score_batches,
                f"id_a {id_type}, id_b {id_type}, score double",
            ),
            banded,
        )

    vecs = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    return release_on_gc(
        cand.join(
            vecs.select(F.col(id_col).alias("id_a"), F.col("v").alias("va")), "id_a"
        )
        .join(
            vecs.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb")), "id_b"
        )
        .withColumn(
            "score", F.round(_cosine_batch()(F.col("va"), F.col("vb")), round_to)
        )
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score"),
        banded,
    )


def _cosine_pairs_driver(
    spark,
    ids: np.ndarray,
    mat: np.ndarray,
    vals: np.ndarray,
    threshold: float,
    round_to: int,
    id_type: str,
) -> DataFrame:
    """Vectorized small-pool LSH pair pipeline (see cosine_pairs_lsh's
    ``driver_pairs_max``): per-table per-bucket pair expansion, unordered
    row-pair dedup across tables (the distributed route's canonical-
    first-table filter computes the same set), einsum cosine, numpy
    round — identical pairs and scores to the distributed broadcast
    route. Row-PAIR grain mirrors the self-join exactly: two rows that
    share an id value never pair (id_a < id_b is strict there)."""
    n = len(ids)
    num_tables = vals.shape[1]
    px_parts, py_parts = [], []
    for t in range(num_tables):
        col = vals[:, t]
        order = np.argsort(col, kind="stable")
        sb = col[order]
        starts = np.flatnonzero(np.r_[True, sb[1:] != sb[:-1]])
        ends = np.r_[starts[1:], len(sb)]
        for s, e in zip(starts, ends):
            m = int(e - s)
            if m < 2:
                continue
            iu, ju = np.triu_indices(m, 1)
            g = order[s:e]
            px_parts.append(g[iu])
            py_parts.append(g[ju])
    if px_parts:
        px = np.concatenate(px_parts)
        py = np.concatenate(py_parts)
        lo = np.minimum(px, py)
        hi = np.maximum(px, py)
        packed = np.unique(lo.astype(np.int64) * n + hi)
        lo, hi = packed // n, packed % n
        norms = np.linalg.norm(mat, axis=1)
        # chunked scoring: the einsum itself is per-pair (bit-identical
        # under any batching) but the mat[lo]/mat[hi] gathers would
        # materialize |pairs|×dim doubles twice — ~4 GB at the gate
        # bound — so score in bounded slices
        sc = np.empty(len(lo), dtype=np.float64)
        step = 1 << 18
        for s in range(0, len(lo), step):
            e = s + step
            l, h = lo[s:e], hi[s:e]
            sc[s:e] = np.einsum("ij,ij->i", mat[l], mat[h]) / (
                norms[l] * norms[h]
            )
        sc = np.round(sc, round_to)
        ida, idb = ids[lo], ids[hi]
        swap = ida > idb
        ida, idb = np.where(swap, idb, ida), np.where(swap, ida, idb)
        keep = (sc >= threshold) & (ida != idb)
        out = pd.DataFrame(
            {"id_a": ida[keep], "id_b": idb[keep], "score": sc[keep]}
        )
    else:
        out = pd.DataFrame({"id_a": [], "id_b": [], "score": []})
    return spark.createDataFrame(
        out, schema=f"id_a {id_type}, id_b {id_type}, score double"
    )


def ann_batch_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k for a BATCH of query vectors in one map-only pass.

    The realistic ANN workload is many queries against one corpus, not
    one: scoring them one scan each is Q full scans. Here the whole
    query matrix (Q×D — the day's query workload, small by construction)
    is closed over and broadcast with the serialized kernel; each Arrow
    batch computes a single numpy matmul (B×D @ D×Q) scoring every
    corpus vector against every query at once, then prunes to the
    per-batch top-k per query BEFORE anything shuffles. The only
    exchange is the final top-k-of-top-ks: ≤ k·Q·num_batches rows,
    independent of corpus size. Self-matches (id == query_id) are
    excluded, mirroring ``cosine_topk``'s contract.

    Scores use the engine-wide floor rounding (``floor(x·10^r + .5)/10^r``)
    so external oracles reproduce them bit-for-bit.
    """
    from typing import Iterator

    qids = np.array([int(q) for q, _ in queries], dtype=np.int64)
    qm = np.stack([np.asarray(v, dtype=np.float64) for _, v in queries])
    qn = np.linalg.norm(qm, axis=1)
    qn[qn == 0.0] = 1.0
    scale = float(10**round_to)

    out_schema = f"query_id long, {id_col} long, score double"

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(v, axis=1)
            vn[vn == 0.0] = 1.0
            # dot/(|a|·|b|) — the same operation order as the SQL
            # oracle's cosine, so floor-rounding agrees bit-for-bit
            s = (v @ qm.T) / (vn[:, None] * qn[None, :])
            s = np.floor(s * scale + 0.5) / scale
            ids = pdf[id_col].to_numpy()
            frames = []
            for j, qid in enumerate(qids):
                col = s[:, j].copy()
                col[ids == qid] = -np.inf  # exclude self-match
                top = (
                    np.argpartition(-col, k - 1)[:k]
                    if len(col) > k
                    else np.arange(len(col))
                )
                keep = top[np.isfinite(col[top])]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            id_col: ids[keep],
                            "score": col[keep],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    from pyspark.sql import Window

    scored = df.select(id_col, vec_col).mapInPandas(score_batches, out_schema)
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.desc("score"), F.col(id_col))
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )
