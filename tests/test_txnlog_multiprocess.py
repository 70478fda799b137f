"""Cross-PROCESS commit atomicity: the single primitive delta-lite's
optimistic concurrency rests on is ``os.link``'s atomic
create-if-absent. The in-suite concurrency tests race two handles in
one process; this one races real OS processes hammering blind appends
at the same log — every version slot must be won by exactly one
writer, with no lost or duplicated commits. Spark-free: the commit
path is pure metadata."""

from __future__ import annotations

import multiprocessing as mp
import os

from data_lakehouse_project_spark.operators.delta_log import _commit_versions
from data_lakehouse_project_spark.operators.txnlog import TxnTable

N_PROCS = 4
N_COMMITS = 25


def _hammer(path: str, writer_id: int) -> None:
    t = TxnTable(path)
    for i in range(N_COMMITS):
        t._commit(
            operation="append",
            read_version=t.latest_version(),
            adds=[
                {
                    "path": f"fake-{writer_id}-{i}.parquet",
                    "size_bytes": 1,
                    "partition_values": {},
                    "stats": {"num_rows": 1, "columns": {}},
                }
            ],
            removes=[],
            schema_json=None,
            partition_by=None,
            blind_append=True,
            max_retries=500,
            info_extra={"writer": writer_id, "seq": i},
        )


def test_multiprocess_blind_appends_never_lose_a_commit(tmp_path):
    path = str(tmp_path / "tbl")
    TxnTable(path)._commit(
        operation="overwrite",
        read_version=-1,
        adds=[],
        removes=[],
        schema_json=None,
        partition_by=None,
        blind_append=False,
    )

    ctx = mp.get_context("fork")
    procs = [
        ctx.Process(target=_hammer, args=(path, w)) for w in range(N_PROCS)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0

    versions = _commit_versions(path)
    total = N_PROCS * N_COMMITS
    # contiguous version chain, one slot per commit, none lost
    assert versions == list(range(total + 1))
    t = TxnTable(path)
    snap = t.snapshot()
    assert len(snap.files) == total  # every add action survived replay
    names = {f["path"] for f in snap.files}
    assert names == {
        f"fake-{w}-{i}.parquet"
        for w in range(N_PROCS)
        for i in range(N_COMMITS)
    }
    # commitInfo audit: each (writer, seq) appears exactly once
    seen = set()
    for h in t.history()[1:]:
        key = (h["writer"], h["seq"])
        assert key not in seen
        seen.add(key)
    assert len(seen) == total
