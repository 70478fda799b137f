"""Commit publication and optimistic-concurrency retry
(operators/concurrency.py): lost publish races raise
ConcurrentCommitError; commit_with_retries re-invokes the writer (which
re-reads the snapshot and re-validates), so interleaved appenders all
land; exhausted retries and validation failures surface cleanly.  A
writer SIGKILLed mid-commit leaves no torn version, and no module but
concurrency.py hand-rolls a publish."""

from __future__ import annotations

import ast
import json
import os

import pytest

from data_lakehouse_project_spark.operators.concurrency import (
    ConcurrentCommitError,
    commit_with_retries,
)
from data_lakehouse_project_spark.operators.delta_export import (
    export_delta_snapshot,
)
from data_lakehouse_project_spark.operators.delta_reader import (
    read_delta_snapshot,
    read_delta_table,
)
from data_lakehouse_project_spark.operators.delta_writer import (
    append_to_delta,
    update_from_delta,
)
from data_lakehouse_project_spark.operators.txnlog import TxnTable


def _batch(spark, lo, hi, part="p0"):
    return spark.range(lo, hi).selectExpr(
        "id", f"'{part}' AS part", "id * 2.0 AS v"
    )


def _foreign(spark, tmp_path, name="f", lo=0, hi=4):
    t = TxnTable(str(tmp_path / f"src_{name}"))
    t.write(_batch(spark, lo, hi), mode="overwrite")
    out = str(tmp_path / f"ext_{name}")
    export_delta_snapshot(spark, t.path, out)
    return out


def test_interleaved_appenders_both_land(spark, tmp_path):
    """Writer B steals A's target version mid-flight; A's retry
    re-reads the new snapshot and lands at the next version."""
    table = _foreign(spark, tmp_path)
    import data_lakehouse_project_spark.operators.delta_writer as dw

    orig = dw._stage_parquet_adds
    stole = {"done": False}

    def hijack(*args, **kwargs):
        # B commits between A's staging and A's exclusive create
        out = orig(*args, **kwargs)
        if not stole["done"]:
            stole["done"] = True
            append_to_delta(spark, _batch(spark, 100, 102), table)
        return out

    dw._stage_parquet_adds = hijack
    try:
        info = commit_with_retries(
            append_to_delta, spark, _batch(spark, 4, 6), table,
        )
    finally:
        dw._stage_parquet_adds = orig
    assert info["version"] == 2  # B took 1, A retried into 2
    got = sorted(r.id for r in read_delta_table(spark, table).collect())
    assert got == [0, 1, 2, 3, 4, 5, 100, 101]
    # the loser's first-attempt orphaned files were rolled back:
    # every root parquet is referenced by the snapshot
    snap = read_delta_snapshot(table)
    referenced = {f["path"] for f in snap.files}
    on_disk = {
        n for n in os.listdir(table)
        if n.endswith(".parquet")
    }
    assert on_disk <= referenced


def test_exhausted_retries_surface_conflict(spark, tmp_path):
    table = _foreign(spark, tmp_path)

    def always_loses(*a, **k):
        raise ConcurrentCommitError("synthetic standing conflict")

    with pytest.raises(ConcurrentCommitError, match="synthetic"):
        commit_with_retries(always_loses, retries=2)


def test_validation_failures_do_not_retry(spark, tmp_path):
    """A constraint-class failure (here: unknown SET column) is not a
    commit race — it must raise immediately, not loop."""
    table = _foreign(spark, tmp_path)
    calls = {"n": 0}

    def op():
        calls["n"] += 1
        return update_from_delta(
            spark, table, "id = 0", {"zzz": "1"},
            allow_protocol_upgrade=True,
        )

    with pytest.raises(ValueError, match="unknown columns"):
        commit_with_retries(op)
    assert calls["n"] == 1


def test_iceberg_interleaved_appenders(spark, tmp_path):
    from data_lakehouse_project_spark.operators.iceberg_export import (
        export_iceberg_metadata,
    )
    from data_lakehouse_project_spark.operators.iceberg_reader import (
        read_iceberg_table,
    )
    from data_lakehouse_project_spark.operators.iceberg_writer import (
        append_to_iceberg,
    )
    import data_lakehouse_project_spark.operators.iceberg_writer as iw

    path = str(tmp_path / "it")
    t = TxnTable(path)
    t.write(
        spark.range(0, 4).selectExpr(
            "id", "'a' AS part", "CAST(id AS DOUBLE) AS v"
        ),
        mode="overwrite",
    )
    export_iceberg_metadata(t, spark)

    orig = iw._stage_iceberg_data
    stole = {"done": False}

    def hijack(*args, **kwargs):
        out = orig(*args, **kwargs)
        if not stole["done"]:
            stole["done"] = True
            iw._stage_iceberg_data = orig
            append_to_iceberg(
                spark,
                spark.range(100, 102).selectExpr(
                    "id", "'a' AS part", "CAST(id AS DOUBLE) AS v"
                ),
                path,
            )
            iw._stage_iceberg_data = hijack
        return out

    iw._stage_iceberg_data = hijack
    try:
        info = commit_with_retries(
            append_to_iceberg,
            spark,
            spark.range(4, 6).selectExpr(
                "id", "'a' AS part", "CAST(id AS DOUBLE) AS v"
            ),
            path,
        )
    finally:
        iw._stage_iceberg_data = orig
    assert info["snapshot_id"] is not None
    got = sorted(r.id for r in read_iceberg_table(spark, path).collect())
    assert got == [0, 1, 2, 3, 4, 5, 100, 101]


# ---- kill points: a commit is all-or-nothing under SIGKILL ----------
#
# Each writer runs in a child process (no JVM: the commit path is pure
# metadata) that SIGKILLs itself either at the k-th serialized log
# action / metadata document ("serialize") or at the publishing link
# ("publish": the temp file is complete and fsynced, the version slot
# not yet taken).  Afterwards the table must read as its last
# published version and take the next commit at the same slot.

_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {}}
        ],
    }
)
_N_FILES = 40

_KILL_CHILD = r"""
import importlib.util, json, os, signal, sys

tests_file, writer, path, step, k = sys.argv[1:6]
k = int(k)
ACTIONS = {"commitInfo", "protocol", "metaData", "txn", "add", "remove",
           "cdc"}
real_dumps, real_link, seen = json.dumps, os.link, [0]


def die():
    os.kill(os.getpid(), signal.SIGKILL)


def due(obj):
    if isinstance(obj, dict) and (
        "format-version" in obj or (len(obj) == 1 and set(obj) <= ACTIONS)
    ):
        seen[0] += 1
        return step == "serialize" and seen[0] == k
    return False


def dumps(obj, *a, **kw):
    if due(obj):
        die()
    return real_dumps(obj, *a, **kw)


def dump(obj, fp, *a, **kw):
    text = real_dumps(obj, *a, **kw)
    if due(obj):
        # json.dump streams chunks: a kill mid-dump leaves a prefix
        fp.write(text[: len(text) // 2])
        fp.flush()
        die()
    fp.write(text)


def link(src, dst, *a, **kw):
    if step == "publish" and dst.endswith(".json"):
        die()
    return real_link(src, dst, *a, **kw)


spec = importlib.util.spec_from_file_location("kill_writers", tests_file)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
json.dumps, json.dump, os.link = dumps, dump, link
mod._run_writer(writer, path)
sys.exit(3)  # no kill point fired
"""


def _fake_adds(prefix: str, n: int) -> list[dict]:
    return [
        {
            "path": f"{prefix}-{i}.parquet",
            "size_bytes": 0,
            "partition_values": {},
            "stats": {"num_rows": 1, "columns": {}},
        }
        for i in range(n)
    ]


def _setup_table(writer: str, path: str) -> None:
    if writer == "rollback_iceberg":
        meta_dir = os.path.join(path, "metadata")
        os.makedirs(meta_dir)
        snaps = [
            {"snapshot-id": s, "timestamp-ms": s, "sequence-number": s,
             "manifest-list": f"snap-{s}.avro",
             "summary": {"operation": "append"}}
            for s in range(1, _N_FILES + 1)
        ]
        md = {
            "format-version": 2,
            "location": path,
            "snapshots": snaps,
            "snapshot-log": [
                {k: s[k] for k in ("snapshot-id", "timestamp-ms")}
                for s in snaps
            ],
            "current-snapshot-id": _N_FILES,
        }
        with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
            json.dump(md, fh)
        with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
            fh.write("1")
        return
    # v0: N files; v1: an overwrite down to one file
    t = TxnTable(path)
    v0 = _fake_adds("v0", _N_FILES)
    v1 = _fake_adds("v1", 1)
    os.makedirs(path, exist_ok=True)
    for a in v0 + v1:  # RESTORE re-adds only files that still exist
        open(os.path.join(path, a["path"]), "wb").close()
    for op, adds, removes in (("overwrite", v0, []), ("overwrite", v1, v0)):
        t._commit(
            operation=op,
            read_version=t.latest_version(),
            adds=adds,
            removes=removes,
            schema_json=_SCHEMA,
            partition_by=None,
            blind_append=False,
        )


def _run_writer(writer: str, path: str):
    """One commit by ``writer``; returns the version it published."""
    if writer == "txn_append":
        t = TxnTable(path)
        return t._commit(
            operation="append",
            read_version=t.latest_version(),
            adds=_fake_adds("late", _N_FILES),
            removes=[],
            schema_json=_SCHEMA,
            partition_by=None,
            blind_append=True,
        )
    if writer == "restore_delta":
        from data_lakehouse_project_spark.operators.delta_export import (
            restore_delta,
        )

        return restore_delta(path, 0)["version"]
    from data_lakehouse_project_spark.operators.foreign_maintenance import (
        rollback_iceberg,
    )

    new = rollback_iceberg(path, 1)["metadata"]
    return int(os.path.basename(new)[1:].split(".")[0])


def _published_state(writer: str, path: str):
    """(latest published version, what a reader sees at it)."""
    if writer == "rollback_iceberg":
        from data_lakehouse_project_spark.operators.iceberg_reader import (
            _latest_metadata_file,
            load_iceberg_metadata,
        )

        hint = os.path.join(path, "metadata", "version-hint.text")
        with open(hint) as fh:
            v = int(fh.read())  # still parses
        assert _latest_metadata_file(path).endswith(f"v{v}.metadata.json")
        return v, load_iceberg_metadata(path)
    snap = read_delta_snapshot(path)
    return snap.version, (
        sorted(f["path"] for f in snap.files), snap.txns
    )


def _version_files(writer: str, path: str) -> list[str]:
    if writer == "rollback_iceberg":
        names = os.listdir(os.path.join(path, "metadata"))
        return sorted(n for n in names if n.endswith(".metadata.json"))
    names = os.listdir(os.path.join(path, "_delta_log"))
    return sorted(n for n in names if n.endswith(".json") and n[0] != ".")


@pytest.mark.parametrize("step", ["serialize", "publish"])
@pytest.mark.parametrize(
    "writer, k",
    [("txn_append", 30), ("restore_delta", 30), ("rollback_iceberg", 1)],
)
def test_commit_survives_sigkill(tmp_path, writer, k, step):
    import signal
    import subprocess
    import sys

    path = str(tmp_path / writer)
    _setup_table(writer, path)
    before_files = _version_files(writer, path)
    before_version, before_state = _published_state(writer, path)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_CHILD, os.path.abspath(__file__),
         writer, path, step, str(k)],
        cwd=root,
        env={**os.environ, "PYTHONPATH": root},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]

    # no torn N.json / vN.metadata.json left behind ...
    assert _version_files(writer, path) == before_files
    # ... the table reads as its last published version ...
    assert _published_state(writer, path) == (before_version, before_state)
    # ... and the next commit lands in the slot the killed one wanted
    assert _run_writer(writer, path) == before_version + 1


# ---- guard: one publish policy ---------------------------------------

_POINTER_NAMES = ("_last_checkpoint", "version-hint.text")


def _string_parts(node, assigned, depth=0) -> list[str]:
    """String constants an expression is built from, following local
    names through their assignments (f-string pieces included)."""
    out = []
    for sub in ast.walk(node):
        if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            out.append(sub.value)
        elif isinstance(sub, ast.Name) and depth < 3:
            for value in assigned.get(sub.id, []):
                out += _string_parts(value, assigned, depth + 1)
    return out


def _names_a_commit_file(node, assigned) -> bool:
    return any(
        s.endswith(".json") or s in _POINTER_NAMES
        for s in _string_parts(node, assigned)
    )


def _mode(call) -> str | None:
    args = call.args[1:2] + [k.value for k in call.keywords if k.arg == "mode"]
    for a in args:
        if isinstance(a, ast.Constant) and isinstance(a.value, str):
            return a.value
    return None


def test_no_hand_rolled_publish_outside_concurrency():
    """Every commit and pointer file goes through
    concurrency.publish_exclusive / replace_atomic: no other module
    opens a file exclusively, renames onto a ``*.json``,
    ``_last_checkpoint`` or ``version-hint.text`` target, or writes
    one of those in place."""
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data_lakehouse_project_spark",
    )
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path.endswith(
                os.path.join("operators", "concurrency.py")
            ):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for fdef in ast.walk(tree):
                if not isinstance(
                    fdef, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    continue
                assigned: dict[str, list] = {}
                for node in ast.walk(fdef):
                    if isinstance(node, ast.Assign):
                        for tgt in node.targets:
                            if isinstance(tgt, ast.Name):
                                assigned.setdefault(tgt.id, []).append(
                                    node.value
                                )
                for call in ast.walk(fdef):
                    if not isinstance(call, ast.Call) or not call.args:
                        continue
                    fn_src = ast.unparse(call.func)
                    where = f"{os.path.relpath(path, root)}:{call.lineno}"
                    if fn_src == "open" and _mode(call) == "x":
                        offenders.append(f"{where} open(..., 'x')")
                    elif (
                        fn_src == "open"
                        and _mode(call) in ("w", "wb", "a")
                        and _names_a_commit_file(call.args[0], assigned)
                    ):
                        offenders.append(f"{where} in-place pointer write")
                    elif (
                        fn_src in ("os.replace", "os.rename")
                        and len(call.args) == 2
                        and _names_a_commit_file(call.args[1], assigned)
                    ):
                        offenders.append(f"{where} {fn_src} onto a log file")
    assert not sorted(set(offenders)), sorted(set(offenders))
