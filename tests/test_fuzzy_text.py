"""Containment pairs, edit-distance fuzzy join, TF-IDF retrieval
(ext/dedup.py / ext/text.py): hand-checked semantics + completeness of
the filter-verify scheme against a brute-force oracle."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from data_lakehouse_project_spark.ext.dedup import (
    containment_pairs,
    edit_distance_pairs,
)
from data_lakehouse_project_spark.ext.text import tfidf_topk


def test_containment_is_directed_and_catches_quotes(spark):
    quote = "the five laws of data systems hold everywhere always"
    container = (
        "preface material first. " + quote + " and then a very long "
        "discussion follows with many additional distinct sentences "
        "about completely unrelated topics entirely."
    )
    df = spark.createDataFrame(
        [(1, quote), (2, container), (3, "nothing in common here at all")],
        "doc_id long, text string",
    )
    got = {
        (r.contained_id, r.container_id): r.containment
        for r in containment_pairs(
            df, "text", "doc_id", n=3, threshold=0.9
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0  # quote fully inside
    assert (2, 1) not in got  # the big doc is NOT inside the quote
    assert all(k[0] != 3 and k[1] != 3 for k in got)

    # and symmetric jaccard would have MISSED it (the reason this
    # operator exists): shared/(a+b-shared) is well under 0.9
    from data_lakehouse_project_spark.ext.dedup import ngram_jaccard_pairs

    jacc = ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, jaccard_threshold=0.9
    )
    assert jacc.count() == 0


def test_edit_distance_pairs_filter_verify_is_complete(spark):
    base = "abcdefghijklmnop"
    rows = [
        (0, base),
        (1, base[:-1] + "q"),          # dist 1 (substitute tail)
        (2, "x" + base[1:]),           # dist 1 (substitute head)
        (3, base[:8] + "ZZ" + base[10:]),  # dist 2 (two substitutions)
        (4, base + "xyz"),             # dist 3 from base -> excluded
        (5, "totally different words"),
        (6, "short"),                  # len < 9 -> excluded by contract
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(
            df, "text", "doc_id", max_dist=2, n=3
        ).collect()
    }

    # brute-force oracle over all eligible pairs (python levenshtein)
    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (ca != cb)
                )
        return d[len(b)]

    eligible = [(i, s) for i, s in rows if len(s) >= 9]
    want = {
        (i, j): lev(a, b)
        for (i, a), (j, b) in itertools.combinations(eligible, 2)
        if lev(a, b) <= 2
    }
    assert got == want
    assert (0, 1) in got and (0, 3) in got and (0, 4) not in got
    assert all(6 not in pair for pair in got)


def test_tfidf_topk_hand_checked(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "spark spark spark join"),
            (2, "spark join filter"),
            (3, "filter scan merge"),
            (4, "join join join join"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(df, "text", "doc_id", ["spark", "missing"], k=3)
    rows = out.collect()
    # only docs containing 'spark' score; 'missing' contributes nothing
    assert [r.doc_id for r in rows] == [1, 2]
    idf = math.log((4 + 1) / (2 + 1))  # N=4 docs, df(spark)=2, smoothed
    assert abs(rows[0].score - 3 * idf) < 1e-12
    assert abs(rows[1].score - 1 * idf) < 1e-12


def test_tfidf_topk_plan_is_pruned_and_take_ordered(spark):
    df = spark.createDataFrame(
        [(i, "spark join scan filter") for i in range(50)],
        "doc_id long, text string",
    )
    q = tfidf_topk(df, "text", "doc_id", ["spark"], k=5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_bm25_topk_hand_checked(spark):
    import math

    from data_lakehouse_project_spark.ext.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark join"),
            (2, "spark join filter"),
            (3, "filter scan merge"),
            (4, "join join join join"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, "text", "doc_id", ["spark", "missing"], k=3)
    rows = out.collect()
    # only docs containing 'spark' score; 'missing' contributes nothing
    assert [r.doc_id for r in rows] == [1, 2]
    n, avgdl, k1, b = 4.0, (4 + 3 + 3 + 4) / 4.0, 1.2, 0.75
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))

    def score(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert abs(rows[0].score - score(3, 4)) < 1e-12
    assert abs(rows[1].score - score(1, 3)) < 1e-12
    # saturation: tripled tf scores < 3x once, and below the idf*(k1+1) cap
    assert rows[0].score < 3 * rows[1].score * (4 / 3)  # loose but real
    assert rows[0].score < idf * (k1 + 1)


def test_bm25_length_normalization_prefers_shorter_doc(spark):
    from data_lakehouse_project_spark.ext.text import bm25_topk

    # same tf for the query term; the shorter doc must rank first
    df = spark.createDataFrame(
        [
            (1, "spark " + "pad " * 40),
            (2, "spark scan"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(df, "text", "doc_id", ["spark"], k=2).collect()
    assert [r.doc_id for r in rows] == [2, 1]
    assert rows[0].score > rows[1].score


def test_bm25_plan_take_ordered(spark):
    from data_lakehouse_project_spark.ext.text import bm25_topk

    df = spark.createDataFrame(
        [(i, "spark join scan filter") for i in range(50)],
        "doc_id long, text string",
    )
    q = bm25_topk(df, "text", "doc_id", ["spark"], k=5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_lexical_topk_ties_do_not_depend_on_partitioning(spark):
    """Docs 1 and 2 hold the same token multiset, so they tie exactly on
    both rankers, and the id breaks the tie, at every partition count.
    Summed in arrival order, their scores differed in the last bits by
    partitioning, and BM25 ranked doc 2 first at some partition counts."""
    from data_lakehouse_project_spark.ext.text import bm25_topk

    terms = [f"w{i}" for i in range(8)]
    tied = [t for i, t in enumerate(terms) for _ in range(1 + i % 3)]
    rows = [(1, " ".join(tied)), (2, " ".join(reversed(tied)))]
    rows += [
        (d, " ".join([terms[d * j % 8] for j in range(1, 2 + d % 4)]
                     + ["pad"] * (d % 10)))
        for d in range(3, 40)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for topk in (bm25_topk, tfidf_topk):
            seen = set()
            for n in (1, 3, 4):
                spark.conf.set("spark.sql.shuffle.partitions", str(n))
                got = topk(
                    corpus.repartition(n), "text", "doc_id", terms, k=2
                ).collect()
                assert [r.doc_id for r in got] == [1, 2], (topk.__name__, n)
                assert got[0].score == got[1].score, (topk.__name__, n)
                seen.add(got[0].score)
            assert len(seen) == 1, topk.__name__
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
