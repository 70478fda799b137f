"""Determinism of the benchmark: inputs repeat per seed, and two runs
with one seed end in identical counts.

Run from the repository root (about seven minutes; it starts nine
benchmark processes one after another):

    python3 -m pytest perfbench/test_determinism.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from commits import BLOCKS, JITTER_BYTES, plan_stream  # noqa: E402

GENERATORS = {
    "orders": lambda seed: datagen.orders(seed, 0.001),
    "lineitem": lambda seed: datagen.lineitem(seed, 0.001),
    "events": lambda seed: datagen.events(seed, 500),
    "documents": lambda seed: datagen.documents(seed, 300),
    "embeddings": lambda seed: datagen.embeddings(seed, 100),
    "commit_rows": lambda seed: datagen.commit_rows(seed, 3, np.arange(200)),
}


@pytest.mark.parametrize("table", sorted(GENERATORS))
def test_inputs_repeat_per_seed_and_differ_across_seeds(table):
    make = GENERATORS[table]
    a, b, other = make(7), make(7), make(8)
    pd.testing.assert_frame_equal(a, b)
    assert a.shape == other.shape
    assert not a.equals(other)


def test_operation_stream_repeats_per_seed():
    def kinds(seed):
        return [(k, sorted((n, str(v)) for n, v in p.items())) for k, p in plan_stream(seed, BLOCKS)]

    assert kinds(7) == kinds(7)
    assert kinds(7) != kinds(8)
    assert len(kinds(7)) == len(kinds(8))


def _run(workload: str, seed: int) -> tuple[dict, dict]:
    """(result line, end state) of one benchmark run with one round."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", "0"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    line = next(x for x in proc.stderr.splitlines() if x.strip().startswith("end state:"))
    return result, json.loads(line.split("end state:", 1)[1])


# end-state fields fixed by the input sizes alone (same for every seed)
SIZE_KEYS = {
    "medallion_batch": ("rows_per_round",),
    "table_commits": ("input_rows",),
    "query_mix": ("rows_per_round",),
}


@pytest.mark.parametrize("workload", sorted(SIZE_KEYS))
def test_same_seed_repeats_counts_other_seed_changes_inputs(workload):
    first, state = _run(workload, 7)
    again, state_again = _run(workload, 7)
    other, state_other = _run(workload, 8)
    for res in (first, again, other):
        assert res["correct"] and res["failed"] == 0
    assert first["attempted"] == again["attempted"] == other["attempted"]
    # Wall-clock timestamps are written into the data (bronze/silver
    # lineage columns) and into the commit log's parquet checkpoints, and
    # their compressed size can differ by a few bytes per file between
    # runs; byte totals repeat to JITTER_BYTES per file, every count exactly.
    byte_keys = {k for k in state if "bytes" in k} - {"input_bytes"}
    slack = JITTER_BYTES * state.get("files_total", state.get("files", 0))
    for key in byte_keys:
        assert abs(state_again[key] - state[key]) <= slack, key
    assert {k: v for k, v in state.items() if k not in byte_keys} == {
        k: v for k, v in state_again.items() if k not in byte_keys
    }
    for metric in ("write_amp", "space_amp"):
        assert again["metrics"][metric]["value"] == pytest.approx(
            first["metrics"][metric]["value"], rel=1e-3
        )
    for key in SIZE_KEYS[workload]:
        assert state_other[key] == state[key]
    assert state_other["input_bytes"] != state["input_bytes"]
