"""``table_commits``: one writer and its readers on an engine-native
table (``operators.txnlog.TxnTable``, the format behind
``write_table(fmt="delta-lite")``).

A round is one episode: a fresh table, then a fixed operation stream
derived from the seed alone. The stream mixes small appends, CDC
``merge_into`` upserts skewed toward recent keys, ``delete_where`` on
key ranges, latest-snapshot reads, time-travel reads, full scans and a
periodic ``optimize``. The stream is fixed by operation count, never by
time, so every episode ends in the same table state; the benchmark
checks that it does. An in-memory model of the table checks every read
and, every few operations and at the end, the whole snapshot.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import datagen
from common import median, tail, tree_bytes
from tracing import executor_counters

from data_lakehouse_project_spark.operators import txnlog
from data_lakehouse_project_spark.operators.txnlog import TxnTable

BASE_ROWS = 20_000
APPEND_ROWS = 400
MERGE_ROWS = 400
MERGE_INSERT_SHARE = 0.25
DELETE_SPAN = 200
READ_SPAN = 1_000
BLOCKS = 2
# one block; an optimize closes every block. The order is the same for
# every seed, which picks only keys, ranges and values: a seeded order
# changed how many files each merge and delete rewrote (rows rewritten
# 63 000 on one seed, 82 600 on most), so seeds did unequal work.
BLOCK = ["append", "read", "append", "merge", "append", "time_travel", "delete", "append", "read", "scan"]
CHECK_EVERY = 6
KINDS = ("append", "merge", "delete", "read", "time_travel", "scan", "optimize")
COLUMNS = ["id", "k", "qty", "price", "tag"]


def plan_stream(seed: int, blocks: int) -> list[tuple[str, dict]]:
    """The operation stream: kinds and parameters, from the seed alone."""
    rng = np.random.default_rng([seed, 2000])
    ops: list[tuple[str, dict]] = [("create", {"ids": np.arange(BASE_ROWS)})]
    next_id = BASE_ROWS
    for _ in range(blocks):
        for kind in BLOCK:
            if kind == "append":
                ops.append((kind, {"ids": np.arange(next_id, next_id + APPEND_ROWS)}))
                next_id += APPEND_ROWS
            elif kind == "merge":
                n_ins = int(MERGE_ROWS * MERGE_INSERT_SHARE)
                # updates skewed toward recent keys: exponential age
                age = rng.exponential(next_id / 6, 4 * MERGE_ROWS).astype("int64")
                upd = np.unique(next_id - 1 - age[age < next_id])[: MERGE_ROWS - n_ins]
                ins = np.arange(next_id, next_id + n_ins)
                next_id += n_ins
                ops.append((kind, {"ids": np.concatenate([upd, ins])}))
            elif kind == "delete":
                # within the initial rows, so every seed's delete rewrites
                # the same (large) file; a range that fell in a small
                # appended file rewrote 13% fewer bytes in the episode
                lo = int(rng.integers(0, BASE_ROWS - DELETE_SPAN))
                ops.append((kind, {"lo": lo, "hi": lo + DELETE_SPAN}))
            elif kind == "read":
                lo = int(rng.integers(0, next_id - READ_SPAN))
                ops.append((kind, {"lo": lo, "hi": lo + READ_SPAN}))
            elif kind == "time_travel":
                ops.append((kind, {"back": int(rng.integers(1, 6))}))
            else:
                ops.append((kind, {}))
        ops.append(("optimize", {}))
    return ops


# Commit timestamps land in the log's parquet checkpoints, where their
# compressed size can differ by a few bytes between runs; byte totals
# therefore repeat to JITTER_BYTES per file, every count exactly.
BYTE_KEYS = ("bytes_total", "bytes_log", "bytes_data", "live_bytes")
JITTER_BYTES = 8


def same_end_state(a: dict, b: dict) -> bool:
    counts_equal = {k: v for k, v in a.items() if k not in BYTE_KEYS} == {
        k: v for k, v in b.items() if k not in BYTE_KEYS
    }
    slack = JITTER_BYTES * b["files_total"]
    return counts_equal and all(abs(a[k] - b[k]) <= slack for k in BYTE_KEYS)


def fingerprint(pdf: pd.DataFrame) -> tuple[int, int]:
    """Order-insensitive (row count, sum of row hashes mod 2**64)."""
    frame = pdf[COLUMNS].astype(
        {"id": "int64", "k": "int64", "qty": "int64", "price": "float64", "tag": "object"}
    )
    hashes = pd.util.hash_pandas_object(frame, index=False).to_numpy()
    return len(frame), int(hashes.sum(dtype=np.uint64))


class Commits:
    name = "table_commits"
    nominal_round_s = 7.0  # one episode, warm, on the reference host (see run.round_count)

    def stage(self, run, root: str) -> None:
        self.root = root
        src = os.path.join(root, "batches")
        os.makedirs(src)
        self.stream = []
        self.input_bytes = self.input_rows = 0
        for i, (kind, params) in enumerate(plan_stream(run.seed, BLOCKS)):
            if "ids" in params:
                path = os.path.join(src, f"{i:03d}-{kind}.parquet")
                datagen.commit_rows(run.seed, i, params["ids"]).to_parquet(path, index=False)
                params = {**params, "path": path}
                self.input_bytes += os.path.getsize(path)
                self.input_rows += len(params["ids"])
            self.stream.append((kind, params))
        self.episodes = 0
        self.end_states: list[dict] = []

    def warm(self, run) -> None:
        # one whole episode: a shorter stream leaves the measured episodes
        # on the steep part of the JIT warm-up curve
        self._episode(run, self.stream, os.path.join(self.root, "warm"))

    def round(self, run) -> None:
        def replayed(snap, table, *_):
            # commit files replayed = versions after the newest checkpoint
            cps = [
                int(n.split(".")[0])
                for n in os.listdir(os.path.join(table.path, txnlog.LOG_DIR))
                if n.endswith(".snapcache.json") and int(n.split(".")[0]) <= snap.version
            ]
            run.counters["replayed"] += snap.version - (max(cps) if cps else -1)
            run.counters["replay_calls"] += 1

        run.tracer.patch(TxnTable, "snapshot", "operators.txnlog.snapshot", after=replayed)
        path = os.path.join(self.root, f"table-{self.episodes % 2}")
        shutil.rmtree(path, ignore_errors=True)
        state = self._episode(run, self.stream, path)
        self.episodes += 1
        if self.end_states:
            run.check(
                same_end_state(state, self.end_states[0]),
                f"episode end state {state} differs from the first {self.end_states[0]}",
            )
        self.end_states.append(state)

    def _episode(self, run, stream, path: str) -> dict:
        spark = run.spark
        table = TxnTable(path)
        model = pd.DataFrame(columns=COLUMNS)
        fingerprints: dict[int, tuple[int, int]] = {}
        changed = {"merge": 0, "delete": 0}

        def commit(version: int | None) -> None:
            if version is not None:  # None: the operation failed and was counted
                fingerprints[version] = fingerprint(model)

        def read_op(kind, fn, files):
            """A read; traced rounds also count its Spark tasks and the
            data files it scans (``files()``, after stats pruning)."""
            before = executor_counters(spark)["tasks"] if run.traced_round else 0
            out = run.op(kind, f"operators.txnlog.{kind}", fn, rows=0)
            if run.traced_round:
                with run.tracer.paused():
                    run.counters["read_tasks"] += executor_counters(spark)["tasks"] - before
                    run.counters["read_ops"] += 1
                    run.counters["read_files"] += files()
            return out

        for i, (kind, p) in enumerate(stream):
            if kind in ("create", "append", "merge"):
                batch = pd.read_parquet(p["path"])
                src = spark.read.parquet(p["path"])
            if kind == "create":
                v = run.op(kind, "operators.txnlog.create", lambda: table.write(src, mode="overwrite"), len(batch))
                model = batch.copy()
                commit(v)
            elif kind == "append":
                v = run.op(kind, "operators.txnlog.append", lambda: table.write(src, mode="append"), len(batch))
                model = pd.concat([model, batch], ignore_index=True)
                commit(v)
            elif kind == "merge":
                v = run.op(
                    kind,
                    "operators.txnlog.merge",
                    lambda: table.merge_into(spark, src, ["id"], matched_update="all"),
                    len(batch),
                )
                model = pd.concat([model[~model.id.isin(batch.id)], batch], ignore_index=True)
                changed["merge"] += len(batch)
                commit(v)
            elif kind == "delete":
                pred = f"id >= {p['lo']} AND id < {p['hi']}"
                gone = int(((model.id >= p["lo"]) & (model.id < p["hi"])).sum())
                v = run.op(kind, "operators.txnlog.delete", lambda: table.delete_where(spark, pred), gone)
                model = model[~((model.id >= p["lo"]) & (model.id < p["hi"]))]
                changed["delete"] += gone
                if v not in fingerprints:
                    commit(v)
            elif kind == "read":
                prune = [("id", ">=", p["lo"]), ("id", "<", p["hi"])]
                got = read_op(
                    kind,
                    lambda: table.read(spark, prune=prune).toPandas(),
                    lambda: table.scan_file_count(prune)[0],
                )
                if got is not None:
                    want = model[(model.id >= p["lo"]) & (model.id < p["hi"])]
                    run.check(fingerprint(got) == fingerprint(want), f"read [{p['lo']}, {p['hi']}) differs from the model")
                    run.rows += len(got) if run.timed else 0
            elif kind == "time_travel":
                target = max(0, table.latest_version() - p["back"])
                target = max(v for v in fingerprints if v <= target)
                got = read_op(
                    kind,
                    lambda: table.read(spark, version=target).toPandas(),
                    lambda: len(table.snapshot(version=target).files),
                )
                if got is not None:
                    run.check(fingerprint(got) == fingerprints[target], f"time travel to v{target} differs from the model")
                    run.rows += len(got) if run.timed else 0
            elif kind == "scan":
                got = read_op(
                    kind,
                    lambda: table.read(spark)
                    .agg(F.count("*"), F.sum("qty"), F.round(F.sum("price"), 2))
                    .first(),
                    lambda: table.scan_file_count()[0],
                )
                if got is not None:
                    want = (len(model), int(model.qty.sum()), round(float(model.price.sum()), 2))
                    run.check((got[0], got[1], round(got[2], 2)) == want, f"scan {tuple(got)} differs from the model {want}")
                    run.rows += len(model) if run.timed else 0
            elif kind == "optimize":
                v = run.op(kind, "operators.txnlog.optimize", lambda: table.optimize(spark), len(model))
                if v not in fingerprints:
                    commit(v)
            if (i + 1) % CHECK_EVERY == 0 or i == len(stream) - 1:
                with run.tracer.paused():
                    got = fingerprint(table.read(spark).toPandas())
                want = fingerprints.get(table.latest_version())
                run.check(got == want, f"snapshot after op {i} differs from the model")
        with run.tracer.paused():
            return self._end_state(path, table, changed)

    def _end_state(self, path: str, table: TxnTable, changed: dict) -> dict:
        log = os.path.join(path, txnlog.LOG_DIR)
        total, files = tree_bytes(path)
        log_bytes, log_files = tree_bytes(log)
        snap = table.snapshot()
        rewritten = {"merge": 0, "delete": 0}
        for name in sorted(os.listdir(log)):
            if not name.endswith(".json") or name.endswith(".snapcache.json"):
                continue
            with open(os.path.join(log, name)) as fh:
                actions = [json.loads(line) for line in fh]
            op = next(a["commitInfo"]["operation"] for a in actions if "commitInfo" in a)
            if op in rewritten:
                rewritten[op] += sum(
                    json.loads(a["add"]["stats"])["numRecords"] for a in actions if "add" in a
                )
        return {
            "bytes_total": total,
            "bytes_log": log_bytes,
            "bytes_data": total - log_bytes,
            "files_total": files,
            "log_files": log_files,
            "live_files": len(snap.files),
            "live_bytes": sum(f["size_bytes"] for f in snap.files),
            "live_rows": snap.num_rows,
            "version": snap.version,
            "rows_rewritten": rewritten["merge"] + rewritten["delete"],
            "rows_changed": changed["merge"] + changed["delete"],
        }

    def end_state(self, run) -> dict:
        s = self.end_states[0]
        return {
            "bytes_written": s["bytes_total"],
            "input_bytes": self.input_bytes,
            "input_rows": self.input_rows,
            "disk_bytes": s["bytes_total"],
            **s,
        }

    def layer_metrics(self, run, layers, traced_rounds: int) -> dict:
        out = {}
        for kind in KINDS:
            name = f"operators.txnlog.{kind}"
            out[f"{name}_s"] = median(
                [s.end - s.start for s in run.tracer.spans if s.name == name]
            )
        snap = layers.get("operators.txnlog.snapshot", {})
        out["operators.txnlog.snapshot_s"] = snap.get("self_s", 0.0) / max(1, snap.get("calls", 0))
        c = run.counters
        out["operators.txnlog.log_files_replayed"] = c["replayed"] / max(1, c["replay_calls"])
        ops = max(1, c["read_ops"])
        out["operators.txnlog.files_per_scan"] = c["read_files"] / ops
        out["spark.tasks_per_read"] = c["read_tasks"] / ops
        s = self.end_states[0]
        out["operators.txnlog.rows_rewritten_per_row_changed"] = s["rows_rewritten"] / max(1, s["rows_changed"])
        out["operators.txnlog.bytes_data_written"] = float(s["bytes_data"])
        out["operators.txnlog.bytes_log_written"] = float(s["bytes_log"])
        return out

    def report(self, run) -> dict:
        out = {}
        for kind in ("append", "merge", "read", "time_travel", "scan", "delete", "optimize"):
            s = run.samples[False][kind]
            out[f"{kind}_p50_s"] = (median(s), "s", len(s))
            if kind in ("append", "read"):
                value, p = tail(s)
                out[f"{kind}_tail_s"] = (value, f"s (p{p})" if p else "s (too few samples)", len(s))
        return out
