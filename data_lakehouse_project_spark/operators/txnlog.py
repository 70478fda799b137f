"""Delta-lite: a minimal ACID transaction log over plain parquet.

The north star (BASELINE.json) names "Delta/Iceberg format support"; the
real packages are unreachable in this container (pip/jar probe recorded
in COVERAGE.md), and the reference itself writes plain parquet
(``spark/jobs/mysql_bronze_ingestion.py:103-106``). This module supplies
the table-format SEMANTICS those packages exist for, using only public
protocol ideas (Delta's JSON action log, Iceberg's file-level column
stats) re-expressed small:

- **Atomic commits** — data files land under the table dir first (they
  are invisible until referenced); the commit record is then published
  by ``concurrency.publish_exclusive``, the one publish every Delta and
  Iceberg writer here shares: the whole record goes to an fsynced temp
  file that is hard-linked into the version slot only if the slot is
  free, so a reader replaying the log sees either all of a commit or
  none of it, even when the writer is killed mid-commit. Versions are
  the contiguous integers ``0..latest``, one JSON file per version in
  ``_delta_log/``.
- **Time travel** — ``read(version=...)`` / ``read(as_of_ms=...)``
  replays the log to the requested point; overwritten files stay on disk
  until ``vacuum`` so old snapshots remain readable.
- **Optimistic concurrency** — every mutation records the version it
  read; publish-time collision on the version file triggers blind-append
  retry or, for read-dependent operations (overwrite / merge / delete),
  a ``ConcurrentWriteConflict``. Two writers can never both win the same
  version because hard-link creation is atomic on POSIX (an object-store
  deployment swaps this single primitive for a conditional PUT).
- **File-level min/max stats + scan pruning** — each ``add`` action
  carries per-column min/max/null_count harvested from the parquet
  FOOTERS (pyarrow metadata — no data scan), and ``read(prune=...)``
  drops files whose range can't satisfy a predicate driver-side before
  Spark ever lists them: the 100 TB scan-economics Iceberg manifests
  exist for. Partition values recorded per file prune the same way.

Round-4 session 2 widens the surface to the full modern-lakehouse DML
set, each Delta/Iceberg-documented semantics re-expressed small:

- **File-granularity DELETE/UPDATE** — one (stats-prunable) scan finds
  the files actually containing matches via ``_metadata.file_path``;
  only those rewrite. **Deletion vectors** (``delete_where(dv=True)``)
  rewrite nothing: positions land in one spec roaring-bitmap
  ``deletion_vector_<uuid>.bin`` per commit, referenced by the re-added
  files' ``deletionVector`` descriptors, and readers apply a size-gated
  broadcast anti-join on ``_metadata.row_index``;
  ``optimize(purge_dv=True)`` is REORG-style materialization.
- **RESTORE** to any retained version (metadata-only re-point),
  **shallow CLONE** (zero-copy absolute-path references, DV-aware),
  **CHECK constraints** (validated pre-publish in one combined
  aggregate), **DESCRIBE DETAIL**.
- **Exactly-once streaming** — Delta-style ``txn`` actions
  (``streaming_append``): checkpoint-replayed micro-batches no-op.
- **Per-file Bloom indexes** (``write(bloom_cols=...)``) for point
  lookups min/max ranges can't prune; **OPTIMIZE ZORDER** (2-D bit
  interleave) so either clustered column prunes.

The log is the source of truth for LIVENESS, not existence: stray data
files (crashed writers, half-finished jobs) are ignored by readers and
reaped by ``vacuum``. Checkpoints only accelerate replay — corrupt ones
are skipped (older checkpoint, then linear replay).

Scale notes: the log is driver-side metadata — O(files) JSON, not data.
Every ``CHECKPOINT_INTERVAL``-th commit also writes a spec parquet
checkpoint (the full active file set at that version), so snapshot
replay reads one checkpoint + at most ``CHECKPOINT_INTERVAL`` commit
files regardless of table age. Stats harvesting reads only footers (KBs per
file). Data files are immutable — every mutation is copy-on-write at
file granularity, exactly the Delta/Iceberg contract.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .delta_log import (
    _BUCKET_HASH_CONF_KEY,
    _CONSTRAINT_CONF_PREFIX,
    _PARTITION_SPEC_CONF_KEY,
    LOG_DIR,  # noqa: F401 — callers locate the log as txnlog.LOG_DIR
    CorruptDeltaLog,
    DeltaSnapshot,
    _commit_file,
    _commit_versions,
    _dv_pair_actions,
    _intake_add,
    _log_dir,
    _parse_meta,
    _parse_remove,
    _read_commit_actions,
    _serialize_add,
    _serialize_remove,
    _spark_path_key,
    _write_classic_checkpoint,
    drop_deleted_rows,
    publish_commit,
    read_delta_snapshot,
    sniff_commit_meta_protocol,
)
from .concurrency import ConcurrentCommitError
from .dv import dv_file_path

CDC_DIR = "_change_data"
# every Nth commit also writes a full-snapshot checkpoint, bounding
# replay to one checkpoint + <N commit files for any table age
CHECKPOINT_INTERVAL = 10

# ---- Delta-protocol log (round 5) ----
#
# Commit files are written in the PUBLISHED Delta transaction-protocol
# shape (delta-io PROTOCOL.md): ``_delta_log/%020d.json`` holding one
# action per line; the action codec, the snapshot replay, the parquet
# checkpoint writer and the deletion-vector encoding are the shared log
# core in ``operators/delta_log.py``, so every table this module writes
# is readable by the spec reader (``delta_reader.read_delta_table``)
# and by any protocol-compliant engine. Tables that use deletion
# vectors publish ``minReaderVersion 3 + readerFeatures
# ["deletionVectors"]``; DV-free tables stay at reader 1 / writer 2.

_PROTOCOL_BASE = {"minReaderVersion": 1, "minWriterVersion": 2}
_PROTOCOL_DV = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}


def _serialize_meta(
    schema_json: str,
    partition_by: list[str] | None,
    constraints: dict,
    table_id: str,
    ts_ms: int,
    bucket_hash: str | None = None,
) -> dict:
    conf = {_PARTITION_SPEC_CONF_KEY: json.dumps(partition_by or [])}
    if bucket_hash:
        conf[_BUCKET_HASH_CONF_KEY] = bucket_hash
    for name, sql in (constraints or {}).items():
        conf[_CONSTRAINT_CONF_PREFIX + name] = sql
    physical, _ = _parse_partition_spec(partition_by)
    return {
        "id": table_id,
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_json,
        "partitionColumns": physical,
        "configuration": conf,
        "createdTime": ts_ms,
    }


# lossless type promotions allowed as additive schema evolution; every
# pair is readable by Spark's parquet upcast path (probe pinned in
# test_txnlog.py). Narrowing is never in this set.
_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
    ("byte", "double"), ("short", "double"), ("integer", "double"),
}


class ConcurrentWriteConflict(RuntimeError):
    """Another commit landed between this operation's read and publish."""


class SchemaMismatchError(ValueError):
    """Append schema differs from the table schema (schema-on-write)."""


class ConstraintViolation(ValueError):
    """Written data violates a table CHECK constraint."""


def _file_stats(fpath: str) -> dict:
    """Per-column min/max/null_count from the parquet footer (metadata
    only — no row reads). Values are JSON-normalized; columns whose
    physical stats are absent or non-orderable are simply omitted, which
    pruning treats as "may match"."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    stats: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            s = col.statistics
            if s is None:
                continue
            name = col.path_in_schema
            if not s.has_min_max:
                # all-null (or stats-less) column chunk: keep the null
                # count — it powers IS [NOT] NULL pruning even when no
                # min/max exists
                if s.null_count is not None:
                    cur = stats.setdefault(name, {"null_count": 0})
                    cur["null_count"] = (
                        cur.get("null_count", 0) + s.null_count
                    )
                continue
            try:
                lo, hi = _jsonable(s.min), _jsonable(s.max)
            except Exception:
                # pyarrow can't DECODE stats for every physical type
                # (e.g. ArrowNotImplementedError on INT96/nano
                # timestamps) even when has_min_max is true; stats are
                # an optimization — skip the column, never fail the
                # write (found by the streaming merge probe on a
                # timestamp column)
                if s.null_count is not None:
                    cur = stats.setdefault(name, {"null_count": 0})
                    cur["null_count"] = (
                        cur.get("null_count", 0) + s.null_count
                    )
                continue
            if lo is None or hi is None:
                continue
            cur = stats.setdefault(
                name, {"min": lo, "max": hi, "null_count": 0}
            )
            cur["min"] = min(cur.get("min", lo), lo)
            cur["max"] = max(cur.get("max", hi), hi)
            if s.null_count is not None:
                cur["null_count"] = cur.get("null_count", 0) + s.null_count
    return {"num_rows": md.num_rows, "columns": stats}


def _jsonable(v):
    import datetime
    import decimal

    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _data_files(root: str) -> list[str]:
    """Relative paths of parquet part files under ``root`` (skipping the
    log dir and marker files), recursing through partition dirs."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        # skip the log, deletion-vector, and in-flight staging dirs —
        # but NEVER a hive partition dir (k=v): hidden-partition dirs
        # are named _pt_<transform>_<col>=<value>
        dirnames[:] = [
            d for d in dirnames if "=" in d or not d.startswith("_")
        ]
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(
                    os.path.relpath(os.path.join(dirpath, f), root)
                )
    return sorted(out)


def _partition_values(relpath: str) -> dict[str, str]:
    """Hive-style ``k=v`` dirs in a file's relative path."""
    vals = {}
    for part in relpath.split(os.sep)[:-1]:
        if "=" in part:
            k, v = part.split("=", 1)
            vals[k] = v
    return vals


@dataclass
class TxnTable:
    """A delta-lite table rooted at ``path`` (local or any rename-capable
    filesystem mount). All state lives in the table dir; the object is a
    stateless handle, so concurrent handles model concurrent writers."""

    path: str

    # ---------------- snapshot / read side ----------------

    def latest_version(self) -> int:
        versions = _commit_versions(self.path)
        return versions[-1] if versions else -1

    def history(self) -> list[dict]:
        """commitInfo of every version, oldest first."""
        out = []
        for v in _commit_versions(self.path):
            with open(_commit_file(self.path, v)) as fh:
                for line in fh:
                    action = json.loads(line)
                    if "commitInfo" in action:
                        out.append(action["commitInfo"])
        return out

    def snapshot(
        self, version: int | None = None, as_of_ms: int | None = None
    ) -> DeltaSnapshot:
        """Replay the log to ``version`` (or to the last commit at or
        before ``as_of_ms``) through the spec reader's replay
        (``delta_log.read_delta_snapshot``): the newest parquet
        checkpoint at or before the target plus at most
        ``CHECKPOINT_INTERVAL`` commit files, whatever the table's age.
        Active files = adds minus removes."""
        try:
            return read_delta_snapshot(
                self.path, version=version, timestamp_ms=as_of_ms
            )
        except CorruptDeltaLog:
            if self.latest_version() < 0:
                raise FileNotFoundError(
                    f"no delta-lite log at {self.path}"
                ) from None
            raise

    def _maybe_checkpoint(self, version: int) -> None:
        """Best-effort spec checkpoint after every Nth commit —
        ``%020d.checkpoint.parquet`` (protocol / metaData / txn / add
        rows) plus the ``_last_checkpoint`` pointer, written by the one
        classic-checkpoint writer (``delta_log``). A failure here never
        fails the commit: the JSON log stays the source of truth and
        checkpoints only accelerate replay."""
        if version <= 0 or version % CHECKPOINT_INTERVAL:
            return
        try:
            snap = self.snapshot(version=version)
            # every commit carries both: take them raw from this one
            meta, protocol = sniff_commit_meta_protocol(self.path, version)
            ts = snap.timestamp_ms
            _write_classic_checkpoint(
                self.path,
                protocol,
                meta,
                [_serialize_add(f, ts) for f in snap.files],
                version,
                txns=snap.txns,
                ts_ms=ts,
            )
        except Exception:
            pass

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of_ms: int | None = None,
        prune: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """DataFrame over a snapshot's active files.

        ``prune`` is a list of ``(column, op, value)`` with op in
        ``= < <= > >= isnull isnotnull``: files whose stats range,
        partition value, null count, or bloom index can't satisfy EVERY
        predicate are dropped driver-side — Spark never lists or opens
        them — and the predicates are ALSO applied as real filters so
        pruning is purely an IO optimization, never a correctness
        dependency. Columns with no stats never prune. Predicates on a
        hidden-partition SOURCE column (``partition_by=["day(ts)"]``)
        additionally prune through the transform.
        """
        snap = self.snapshot(version=version, as_of_ms=as_of_ms)
        files = snap.files
        if prune:
            meta = self._current_meta()
            _, transforms = _parse_partition_spec(
                meta.get("partition_by") or []
            )
            prune = _expand_prune(
                prune,
                transforms,
                dtype_of=_dtypes_of_schema_json(snap.schema_json),
                bucket_ok=meta.get("bucket_hash") == "murmur3",
            )
            files = [f for f in files if _file_may_match(f, prune)]
        schema = (
            _schema_from_json(spark, snap.schema_json)
            if snap.schema_json
            else None
        )
        if not files:
            return spark.createDataFrame([], schema)
        # the SNAPSHOT's schema governs the read (Delta semantics):
        # after an additive schema change, older files in the same
        # snapshot surface the new column as null instead of the
        # union-by-position guesswork of bare multi-path parquet;
        # basePath (inside _read_files) keeps hive partition columns
        # and any deletion vectors are applied merge-on-read
        df = self._read_files(spark, files, snap.schema_json)
        if schema is not None:
            # Spark appends hive partition columns after the data
            # columns even under an explicit schema; present the
            # snapshot schema's declared order (what a Delta reader
            # shows from schemaString)
            df = df.select(*schema.names)
        if prune:
            from pyspark.sql import functions as F

            for col, op, val in prune:
                if col not in df.columns:
                    continue
                c = F.col(col)
                cond = {
                    "=": c == val, "<": c < val, "<=": c <= val,
                    ">": c > val, ">=": c >= val,
                    "isnull": c.isNull(), "isnotnull": c.isNotNull(),
                }[op]
                df = df.where(cond)
        return df

    def scan_file_count(
        self, prune: list[tuple[str, str, object]] | None = None
    ) -> tuple[int, int]:
        """(files_scanned, files_total) for a pruned read — the
        observable the stats exist to shrink."""
        snap = self.snapshot()
        files = snap.files
        if prune:
            meta = self._current_meta()
            _, transforms = _parse_partition_spec(
                meta.get("partition_by") or []
            )
            prune = _expand_prune(
                prune,
                transforms,
                dtype_of=_dtypes_of_schema_json(snap.schema_json),
                bucket_ok=meta.get("bucket_hash") == "murmur3",
            )
        kept = (
            [f for f in files if _file_may_match(f, prune)] if prune else files
        )
        return len(kept), len(files)

    # ---------------- write side ----------------

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        allow_schema_evolution: bool = False,
        commit_info: dict | None = None,
        bloom_cols: dict[str, int] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Append or overwrite; returns the committed version.

        Appends enforce schema-on-write (exact field name/type match
        with the table schema). ``allow_schema_evolution=True`` permits
        ADDITIVE appends — every existing field kept, new fields
        allowed; the snapshot schema advances and older files surface
        the new columns as null (the explicit-schema read guarantees
        it). Overwrite replaces the schema outright, like Delta.
        """
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode}")
        read_version = self.latest_version()
        if txn is not None and read_version >= 0:
            # exactly-once: a replayed micro-batch (same app_id with
            # batch_id at or below the last recorded) is a no-op
            if self.snapshot().txns.get(txn[0], -1) >= txn[1]:
                return read_version
        if mode == "append" and read_version >= 0:
            self._check_append_schema(df, allow_schema_evolution)
            # Delta semantics: an append INHERITS the table's partition
            # spec — passing none must not silently de-partition the
            # table (which would mix hive and flat file layouts under
            # one snapshot), and passing a conflicting spec is an
            # error, not a spec change. Only overwrite redefines the
            # spec (all prior files are removed, so the layout stays
            # uniform).
            current = self._current_partition_by()
            if partition_by is None:
                partition_by = current or None
            elif list(partition_by) != list(current):
                raise ValueError(
                    f"append partition_by {list(partition_by)} conflicts "
                    f"with the table's partition spec {list(current)}; "
                    "only overwrite may change partitioning"
                )
        if read_version >= 0:
            self._enforce_constraints(df)
        adds = self._stage_data(df, partition_by)
        if bloom_cols:
            # per-file point-lookup index (string/int columns only —
            # the md5-of-str contract, see _bloom_positions_py)
            self._attach_blooms(df.sparkSession, adds, bloom_cols)
        removes = (
            [_remove_action(f) for f in self.snapshot().files]
            if mode == "overwrite" and read_version >= 0
            else []
        )
        return self._commit(
            operation=mode,
            read_version=read_version,
            adds=adds,
            removes=removes,
            schema_json=df.schema.json(),
            partition_by=partition_by,
            blind_append=(mode == "append"),
            info_extra=commit_info,
            txn=txn,
        )

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        matched_update: dict[str, str] | str | None = None,
        matched_update_condition: str | None = None,
        matched_delete_condition: str | None = None,
        insert: bool = True,
        insert_condition: str | None = None,
        not_matched_by_source_delete: str | bool = False,
        txn: tuple[str, int] | None = None,
        cdc: bool = False,
    ) -> int:
        """Full-clause MERGE with Delta's semantics, at FILE
        granularity::

            MERGE INTO t USING s ON <keys>
            WHEN MATCHED [AND <matched_delete_condition>] THEN DELETE
            WHEN MATCHED [AND <matched_update_condition>]
                THEN UPDATE SET <matched_update>
            WHEN NOT MATCHED [AND <insert_condition>] THEN INSERT *
            WHEN NOT MATCHED BY SOURCE
                [AND <not_matched_by_source_delete>] THEN DELETE

        Conditions and SET expressions are SQL over the aliases ``t``
        (target) and ``s`` (source) — e.g. ``{"qty": "t.qty + s.qty"}``;
        ``matched_update="all"`` means ``SET * `` (every target column
        from ``s``). Clause precedence on a matched row is DELETE then
        UPDATE, like Delta's clause order. ``insert`` requires the
        source to carry every target column (INSERT-star semantics).

        Execution shape (the same find-touched-files-then-rewrite plan
        delta-spark runs): pass 1 left-joins the target scan to the
        source on the keys and persists a NARROW flags sliver (file
        path, row position, clause verdicts — only rows a clause could
        touch) from which the ambiguity check, the touched-file list,
        and the no-op decision are all answered without re-scanning.
        Pass 2 rewrites ONLY the touched files (the path filter pushes
        below the join, so untouched files aren't even read; DV rows
        already deleted are excluded by the scan) — every untouched
        file's add action survives verbatim, so a selective merge
        rewrites O(matching files), not O(table). Inserts come from a
        key-column anti-join (column-pruned scan). One commit,
        read-dependent (``blind_append=False``) so any concurrent
        writer conflicts.

        A target row matched by MORE than one source row raises when an
        update/delete clause exists, as Delta does (slightly stricter:
        Delta only errors when a duplicated row would actually be
        modified). Without matched clauses, duplicate matches are
        harmless and kept rows are deduplicated by (file, position) —
        a multi-match must never double a bystander row that lands in a
        rewritten file. Returns the committed version, or the current
        version when no clause changed anything.
        """
        from functools import reduce as _reduce

        from pyspark.sql import functions as F

        from data_lakehouse_project_spark.cacheutil import (
            free_local_checkpoint,
        )

        # canonical flag: ANY falsy value (False, None, "", 0) means
        # "no NMBS clause" — the clause test and the relevant-rows
        # sliver below must agree, else a disabled clause widens the
        # flags cache to the whole target scan
        if not not_matched_by_source_delete:
            not_matched_by_source_delete = False

        read_version = self.latest_version()
        if txn is not None and read_version >= 0:
            # exactly-once under streaming replay: a micro-batch whose
            # (app_id, batch_id) is already recorded is a no-op — same
            # contract as write(); the publish race re-checks in _commit
            if self.snapshot().txns.get(txn[0], -1) >= txn[1]:
                return read_version
        # MATERIALIZE the source before any clause evaluates it: the
        # merge reads the source in up to four independent jobs (flags
        # pass, rewrite pass, insert anti-join, staging), and a
        # non-deterministic source (rand(), limit/sample, a re-read of
        # mutable files) could otherwise produce a touched-file list
        # that disagrees with the rewrite — silently dropping or
        # mis-applying changes. delta-spark materializes such sources
        # for the same reason; an eager localCheckpoint (lineage
        # truncated, so recompute is impossible) makes every pass see
        # one immutable snapshot, and the blocks are freed before
        # returning. merge_into runs synchronously, so the checkpoint
        # lifecycle is fully contained here.
        source = source.localCheckpoint(eager=True)
        try:
            return self._merge_into_body(
                spark, source, keys, matched_update,
                matched_update_condition, matched_delete_condition,
                insert, insert_condition, not_matched_by_source_delete,
                txn, read_version, _reduce, F, cdc,
            )
        finally:
            free_local_checkpoint(source)

    def _merge_into_body(
        self, spark, source, keys, matched_update,
        matched_update_condition, matched_delete_condition, insert,
        insert_condition, not_matched_by_source_delete, txn,
        read_version, _reduce, F, cdc=False,
    ) -> int:
        snap = self.snapshot()
        partition_by = self._current_partition_by()
        tgt_cols = [
            f.name
            for f in _schema_from_json(spark, snap.schema_json).fields
        ]
        if isinstance(matched_update, str):
            if matched_update != "all":
                raise ValueError(
                    "matched_update must be a {col: sql} dict or 'all'"
                )
            matched_update = {c: f"s.{c}" for c in tgt_cols}
        if matched_update:
            unknown = set(matched_update) - set(tgt_cols)
            if unknown:
                raise ValueError(
                    f"SET on unknown columns: {sorted(unknown)}"
                )

        scan = self._read_files(
            spark, list(snap.files), snap.schema_json, with_lineage=True
        ).alias("t")
        src = source.withColumn("_s_exists", F.lit(True)).alias("s")
        on = _reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys],
        )
        joined = scan.join(src, on, "left")
        matched = F.col("s._s_exists").isNotNull()

        def _cond(sql: str | None) -> Column:
            return (
                F.coalesce(F.expr(f"({sql})"), F.lit(False))
                if sql
                else F.lit(True)
            )

        m_del = (
            matched & _cond(matched_delete_condition)
            if matched_delete_condition is not None
            else F.lit(False)
        )
        m_upd = (
            matched & ~m_del & _cond(matched_update_condition)
            if matched_update
            else F.lit(False)
        )
        if not_matched_by_source_delete is True:
            nmbs = ~matched
        elif not_matched_by_source_delete:
            nmbs = ~matched & _cond(not_matched_by_source_delete)
        else:
            nmbs = F.lit(False)

        changed = m_del | m_upd | nmbs
        # narrow flags sliver: one scan+join answers the ambiguity
        # check, the touched-file list, and the no-op decision. Rows are
        # restricted to what a clause could touch — matched rows plus
        # (only when an NMBS clause exists) unmatched target rows — so
        # for the common keyed merge the cache is source-sized.
        relevant = (
            matched
            if not_matched_by_source_delete is False
            else F.lit(True)
        )
        flags = (
            joined.where(relevant)
            .select(
                F.col("t._dl_path").alias("_p"),
                F.col("t._dl_pos").alias("_pos"),
                matched.alias("_m"),
                changed.alias("_ch"),
            )
            .persist()
        )
        try:
            if matched_update or matched_delete_condition is not None:
                dup = (
                    flags.where("_m")
                    .groupBy("_p", "_pos")
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .where(F.col("_n") > 1)
                    .limit(1)
                    .count()
                )
                if dup:
                    raise ValueError(
                        "MERGE source matches a target row more than "
                        "once; aggregate the source to the key grain "
                        "first"
                    )
            hit_paths = sorted(
                r._p
                for r in flags.where("_ch").select("_p").distinct().collect()
            )
        finally:
            flags.unpersist()
        touched = [f for f in snap.files if f["path"] in hit_paths]

        rewritten = None
        if touched:
            set_exprs = matched_update or {}
            rewritten = (
                joined.where(F.col("t._dl_path").isin(hit_paths))
                .where(~(m_del | nmbs))
                .select(
                    *[
                        (
                            F.when(m_upd, F.expr(set_exprs[c]))
                            .otherwise(F.col(f"t.{c}"))
                            if c in set_exprs
                            else F.col(f"t.{c}")
                        ).alias(c)
                        for c in tgt_cols
                    ],
                    F.col("t._dl_path").alias("_dl_path"),
                    F.col("t._dl_pos").alias("_dl_pos"),
                )
            )
            if not matched_update and matched_delete_condition is None:
                # no matched clause ran the ambiguity check, so a
                # multi-matched bystander row in a touched file is
                # duplicated by the join — its copies are identical
                # (nothing updated them), keep exactly one
                rewritten = rewritten.dropDuplicates(
                    ["_dl_path", "_dl_pos"]
                )
            rewritten = rewritten.drop("_dl_path", "_dl_pos")

        inserts = None
        if insert:
            missing = set(tgt_cols) - set(source.columns)
            if missing:
                raise ValueError(
                    f"INSERT needs source columns: {sorted(missing)}"
                )
            # anti-join against the key columns only — column pruning
            # reaches the parquet scan, so this pass reads keys, not
            # the table
            inserts = source.alias("s").join(
                self.read(spark).select(*keys), keys, "left_anti"
            )
            if insert_condition:
                inserts = inserts.where(F.expr(f"({insert_condition})"))
            inserts = inserts.select(*tgt_cols)
            if inserts.isEmpty():
                inserts = None

        if not touched and inserts is None:
            if txn is not None:
                # still record the txn so a later replay of this empty
                # batch stays a no-op instead of re-running the scans
                return self._commit(
                    operation="merge",
                    read_version=read_version,
                    adds=[],
                    removes=[],
                    schema_json=snap.schema_json,
                    partition_by=partition_by,
                    blind_append=False,
                    txn=txn,
                    info_extra={"files_rewritten": 0, "noop": True},
                )
            return read_version
        out = rewritten if rewritten is not None else inserts
        if rewritten is not None and inserts is not None:
            out = rewritten.unionByName(inserts)
        # store-assignment cast to the TARGET schema (Delta semantics):
        # a wider-typed source expression (decimal qty into a double
        # column, int into long) must land as the declared type — the
        # snapshot schema governs reads, so an uncast staged file would
        # corrupt the table for every reader
        tgt_schema = _schema_from_json(spark, snap.schema_json)
        out = out.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in tgt_schema.fields
            ]
        )
        self._enforce_constraints(out)
        cdc_actions = None
        if cdc:
            # change rows per clause, from the SAME joined snapshot the
            # rewrite uses: matched deletes + NMBS deletes -> "delete"
            # preimages; updates -> pre/postimage pairs; inserts ->
            # "insert". Cast to the target schema like `out`.
            tsel = [F.col(f"t.{c}").alias(c) for c in tgt_cols]
            branches = []
            if touched:
                base = joined.where(F.col("t._dl_path").isin(hit_paths))
                if matched_delete_condition is not None:
                    branches.append(
                        base.where(m_del)
                        .select(*tsel)
                        .withColumn("_change_type", F.lit("delete"))
                    )
                if matched_update:
                    branches.append(
                        base.where(m_upd)
                        .select(*tsel)
                        .withColumn(
                            "_change_type", F.lit("update_preimage")
                        )
                    )
                    branches.append(
                        base.where(m_upd)
                        .select(
                            *[
                                (
                                    F.expr(matched_update[c])
                                    if c in matched_update
                                    else F.col(f"t.{c}")
                                ).alias(c)
                                for c in tgt_cols
                            ]
                        )
                        .withColumn(
                            "_change_type", F.lit("update_postimage")
                        )
                    )
                if not_matched_by_source_delete is not False:
                    branches.append(
                        base.where(nmbs)
                        .select(*tsel)
                        .withColumn("_change_type", F.lit("delete"))
                    )
            if inserts is not None:
                branches.append(
                    inserts.select(*tgt_cols).withColumn(
                        "_change_type", F.lit("insert")
                    )
                )
            if branches:
                cdc_df = _reduce(
                    lambda a, b: a.unionByName(b), branches
                ).select(
                    *[
                        F.col(f.name).cast(f.dataType).alias(f.name)
                        for f in tgt_schema.fields
                    ],
                    "_change_type",
                )
                cdc_actions = self._stage_cdc(cdc_df, partition_by)
        return self._commit(
            operation="merge",
            read_version=read_version,
            adds=self._stage_data(out, partition_by),
            removes=[_remove_action(f) for f in touched],
            schema_json=snap.schema_json,
            partition_by=partition_by,
            blind_append=False,
            txn=txn,
            cdc_actions=cdc_actions,
            info_extra={
                "files_rewritten": len(touched),
                "files_skipped": len(snap.files) - len(touched),
                "clauses": {
                    "update": bool(matched_update),
                    "delete": matched_delete_condition is not None,
                    "insert": insert,
                    "not_matched_by_source": bool(
                        not_matched_by_source_delete
                    ),
                },
            },
        )

    def merge(self, source: DataFrame, keys: list[str]) -> int:
        """MERGE (upsert): source wins on key match, else insert —
        read-dependent, so any concurrent commit conflicts.
        ``merge_into`` is the full-clause variant (conditional
        update/delete, NOT MATCHED BY SOURCE) at file granularity."""
        from data_lakehouse_project_spark.operators.upsert import merge_upsert

        spark = source.sparkSession
        read_version = self.latest_version()
        target = self.read(spark)
        merged = merge_upsert(target, source, keys)
        self._enforce_constraints(merged)
        adds = self._stage_data(merged, None)
        removes = [_remove_action(f) for f in self.snapshot().files]
        return self._commit(
            operation="merge",
            read_version=read_version,
            adds=adds,
            removes=removes,
            schema_json=merged.schema.json(),
            partition_by=None,
            blind_append=False,
        )

    def delete_where(
        self,
        spark: SparkSession,
        predicate_sql: str,
        prune: list[tuple[str, str, object]] | None = None,
        dv: bool = False,
        cdc: bool = False,
    ) -> int:
        """DELETE rows matching ``predicate_sql`` — at FILE granularity,
        like Delta: one scan (optionally ``prune``-narrowed by file
        stats) finds the files that actually contain matching rows via
        ``_metadata.file_path``; every other file's add action is left
        untouched, so a selective delete on a clustered table rewrites
        O(matching files), not O(table). The touched-path collect is
        bounded by the file count the driver already holds.

        ``dv=False`` (copy-on-write): touched files are rewritten
        without the matching rows; old versions stay time-travelable.

        ``dv=True`` (merge-on-read, Delta deletion vectors): NO data
        file is rewritten. The matching (file, row-position) pairs —
        unioned with any positions already deleted from those files —
        are written once to a spec ``deletion_vector_<uuid>.bin`` and
        each touched file is removed and re-added with its new
        ``deletionVector`` (the pairs the foreign writer commits too);
        readers apply the DV as a broadcast anti-join. The at-scale
        trade: deletes cost O(deleted rows) IO instead of O(touched
        files), at a small per-read filter cost until ``optimize``
        materializes the deletions away.

        Returns the committed version, or the current version unchanged
        when no row matches (no empty commits).
        """
        from pyspark.sql import functions as F

        if cdc and dv:
            raise ValueError(
                "cdc=True with dv=True is not supported: the CDF "
                "contract ships materialized change rows, which a "
                "merge-on-read delete deliberately avoids writing"
            )
        read_version = self.latest_version()
        snap = self.snapshot()
        partition_by = self._current_partition_by()
        candidates = (
            [f for f in snap.files if _file_may_match(f, prune)]
            if prune
            else list(snap.files)
        )
        if not candidates:
            return read_version
        scan = self._read_files(
            spark, candidates, snap.schema_json, with_lineage=True
        )
        matches = scan.where(predicate_sql)
        path = F.col("_dl_path").alias("p")
        if dv:
            # one job: the matched row positions, grouped per file
            hit_pos = {
                r.p: r.pos
                for r in matches.groupBy(path)
                .agg(F.collect_list("_dl_pos").alias("pos"))
                .collect()
            }
        else:
            hit_pos = {
                r.p: None for r in matches.select(path).distinct().collect()
            }
        touched = [f for f in candidates if f["path"] in hit_pos]
        if not touched:
            return read_version
        if dv:
            actions, _, rows_deleted = _dv_pair_actions(
                self.path,
                snap,
                {os.path.abspath(self._abs(p)): v for p, v in hit_pos.items()},
                self._abs,
                int(time.time() * 1000),
            )
            adds = [_intake_add(a["add"]) for a in actions if "add" in a]
            removes = [
                _parse_remove(a["remove"]) for a in actions if "remove" in a
            ]
            info = {
                "mode": "dv",
                "files_with_dv": len(touched),
                "rows_deleted": rows_deleted,
            }
            cdc_actions = None
        else:
            # NULL-predicate rows are NOT deleted (SQL DELETE
            # semantics), so keep = NOT coalesce(pred, false)
            kept = (
                scan.where(
                    ~F.coalesce(
                        F.expr(f"({predicate_sql})"), F.lit(False)
                    )
                )
                .where(F.col("_dl_path").isin(sorted(hit_pos)))
                .drop("_dl_path", "_dl_pos")
            )
            adds = self._stage_data(kept, partition_by)
            removes = [_remove_action(f) for f in touched]
            info = {
                "files_rewritten": len(touched),
                "files_skipped": len(snap.files) - len(touched),
            }
            cdc_actions = (
                self._stage_cdc(
                    matches.drop("_dl_path", "_dl_pos").withColumn(
                        "_change_type", F.lit("delete")
                    ),
                    partition_by,
                )
                if cdc
                else None
            )
        return self._commit(
            operation="delete",
            read_version=read_version,
            adds=adds,
            removes=removes,
            schema_json=snap.schema_json,
            partition_by=partition_by,
            blind_append=False,
            info_extra=info,
            cdc_actions=cdc_actions,
        )

    def update_where(
        self,
        spark: SparkSession,
        predicate_sql: str,
        set_exprs: dict[str, str],
        prune: list[tuple[str, str, object]] | None = None,
        cdc: bool = False,
    ) -> int:
        """UPDATE rows matching ``predicate_sql``, assigning each column
        in ``set_exprs`` its SQL expression (evaluated against the OLD
        row, like SQL UPDATE — ``{"v": "v + 1"}``). File-granularity
        copy-on-write, same as ``delete_where``: one (optionally
        stats-pruned) scan finds the files containing matching rows and
        ONLY those are rewritten; NULL-predicate rows are untouched.
        Returns the committed version, or the current version when no
        row matches."""
        from pyspark.sql import functions as F

        unknown = set(set_exprs) - set(
            f.name
            for f in _schema_from_json(
                spark, self.snapshot().schema_json
            ).fields
        )
        if unknown:
            raise ValueError(f"SET on unknown columns: {sorted(unknown)}")
        read_version = self.latest_version()
        snap = self.snapshot()
        partition_by = self._current_partition_by()
        candidates = (
            [f for f in snap.files if _file_may_match(f, prune)]
            if prune
            else list(snap.files)
        )
        if not candidates:
            return read_version
        scan = self._read_files(
            spark, candidates, snap.schema_json, with_lineage=True
        )
        hit = F.coalesce(F.expr(f"({predicate_sql})"), F.lit(False))
        hit_paths = {
            r.p
            for r in scan.where(hit)
            .select(F.col("_dl_path").alias("p"))
            .distinct()
            .collect()
        }
        touched = [f for f in candidates if f["path"] in hit_paths]
        if not touched:
            return read_version
        rewritten = (
            scan.where(F.col("_dl_path").isin(sorted(hit_paths)))
            .withColumns(
                {
                    c: F.when(hit, F.expr(e)).otherwise(F.col(c))
                    for c, e in set_exprs.items()
                }
            )
            .drop("_dl_path", "_dl_pos")
        )
        self._enforce_constraints(rewritten)
        cdc_actions = None
        if cdc:
            # pre/postimage pairs for exactly the matching rows —
            # evaluated from the SAME snapshot scan the rewrite uses
            pre = (
                scan.where(hit)
                .drop("_dl_path", "_dl_pos")
                .withColumn("_change_type", F.lit("update_preimage"))
            )
            post = (
                scan.where(hit)
                .withColumns({c: F.expr(e) for c, e in set_exprs.items()})
                .drop("_dl_path", "_dl_pos")
                .withColumn("_change_type", F.lit("update_postimage"))
            )
            cdc_actions = self._stage_cdc(
                pre.unionByName(post), partition_by
            )
        return self._commit(
            operation="update",
            read_version=read_version,
            adds=self._stage_data(rewritten, partition_by),
            removes=[_remove_action(f) for f in touched],
            schema_json=snap.schema_json,
            partition_by=partition_by,
            blind_append=False,
            info_extra={
                "files_rewritten": len(touched),
                "files_skipped": len(snap.files) - len(touched),
            },
            cdc_actions=cdc_actions,
        )

    def streaming_append(self, app_id: str, **write_kwargs):
        """Exactly-once Structured-Streaming sink: a ``foreachBatch``
        callable that appends each micro-batch under a Delta-style
        ``txn`` action ``(app_id, batch_id)``. After a crash the stream
        replays its last micro-batch from the checkpoint — the replay's
        batch_id is at or below the last recorded one, so the append is
        a no-op and rows are never duplicated; the publish-race path
        re-checks too (losing a version race to our own replay also
        no-ops). Usage::

            q = (stream.writeStream
                 .foreachBatch(table.streaming_append("my-query"))
                 .option("checkpointLocation", ckpt).start())
        """

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            self.write(
                batch_df,
                mode="append",
                txn=(app_id, int(batch_id)),
                **write_kwargs,
            )

        return _apply

    def streaming_merge(
        self, app_id: str, keys: list[str], **merge_kwargs
    ):
        """Exactly-once streaming UPSERT sink: a ``foreachBatch``
        callable that applies each micro-batch through full-clause
        ``merge_into`` under a Delta-style ``txn`` action — the CDC
        stream-apply shape (late/replayed batches are no-ops, so a
        crash between publish and checkpoint never double-applies a
        merge). ``merge_kwargs`` forward to ``merge_into``; the default
        is upsert (``matched_update="all"``, insert on)::

            q = (cdc_stream.writeStream
                 .foreachBatch(table.streaming_merge("cdc", ["id"]))
                 .option("checkpointLocation", ckpt).start())

        A CDC batch carrying several events for one key must be
        pre-collapsed to its latest event per key (e.g. a row_number
        window over the CDC sequence column) — ``merge_into`` raises on
        multi-matched rows rather than applying them in arbitrary
        order.
        """
        merge_kwargs.setdefault("matched_update", "all")

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            self.merge_into(
                batch_df.sparkSession,
                batch_df,
                keys,
                txn=(app_id, int(batch_id)),
                **merge_kwargs,
            )

        return _apply

    def clone_to(self, target_path: str, version: int | None = None) -> "TxnTable":
        """Shallow CLONE (Delta `CREATE TABLE ... SHALLOW CLONE`): a new
        table whose first commit REFERENCES this table's data files (and
        deletion vectors) by absolute path — zero bytes copied, O(files)
        metadata. The clone then evolves independently: its mutations
        stage files locally and only drop references to source files,
        never delete them; its ``vacuum`` reaps only files under its own
        root. Standard caveat (same as Delta): vacuuming the SOURCE past
        the cloned version breaks the clone's unrewritten references.
        ``version`` clones a historical snapshot (time-travel clone)."""
        snap = self.snapshot(version=version)
        src_root = os.path.abspath(self.path)
        adds = []
        for f in snap.files:
            g = dict(f)
            g["path"] = os.path.join(src_root, g["path"])  # abs stays abs
            dv_path = dv_file_path(g.get("foreign_dv") or {}, src_root)
            if dv_path:
                # table-relative 'u' DVs become absolute 'p' references
                g["foreign_dv"] = {
                    **g["foreign_dv"],
                    "storageType": "p",
                    "pathOrInlineDv": dv_path,
                }
            adds.append(g)
        clone = TxnTable(target_path)
        if clone.latest_version() >= 0:
            raise FileExistsError(f"{target_path} already has a log")
        clone._commit(
            operation="clone",
            read_version=-1,
            adds=adds,
            removes=[],
            schema_json=snap.schema_json,
            partition_by=self._current_partition_by(),
            blind_append=False,
            info_extra={
                "source": src_root,
                "source_version": snap.version,
            },
            constraints=dict(snap.constraints),
        )
        return clone

    def describe_detail(self) -> dict:
        """Table-level metadata summary (Delta DESCRIBE DETAIL): file
        and byte counts, live rows net of deletion vectors, partition
        columns, constraints, version/timestamp — all from the log, no
        data scan."""
        snap = self.snapshot()
        return {
            "location": os.path.abspath(self.path),
            "version": snap.version,
            "timestamp_ms": snap.timestamp_ms,
            "num_files": len(snap.files),
            "size_bytes": sum(
                f.get("size_bytes", 0) for f in snap.files
            ),
            "num_rows": snap.num_rows,
            "files_with_dv": sum(
                1 for f in snap.files if f.get("foreign_dv")
            ),
            "partition_by": self._current_partition_by(),
            "constraints": dict(snap.constraints),
            "num_commits": len(_commit_versions(self.path)),
        }

    def _attach_blooms(
        self, spark: SparkSession, adds: list[dict], bloom_cols: dict
    ) -> None:
        """Attach a per-file Bloom filter for each ``bloom_cols`` column
        (name → num_bits) to the freshly staged add actions — the
        Iceberg/Delta bloom-index analog for point-lookup pruning where
        min/max ranges can't help (high-cardinality keys in unsorted
        files). One Spark job for ALL files × columns: k=5 md5-derived
        bit positions per value, exploded, collect_set per (file, col)
        — ≤ num_bits distinct positions per cell, driver-bounded by
        ``_BLOOM_MAX_BITS``. Stored hex in the add action (m/8 bytes →
        2 hex chars/byte), so the filter rides the commit log and every
        checkpoint. NULLs contribute no bits (NULL never equals a
        probe literal)."""
        from pyspark.sql import functions as F

        for c, m in bloom_cols.items():
            if not 64 <= m <= _BLOOM_MAX_BITS:
                raise ValueError(
                    f"bloom bits for {c!r} must be in [64, {_BLOOM_MAX_BITS}]"
                )
        df = self._read_files(spark, adds, None, with_lineage=True)
        ok_types = ("string", "tinyint", "smallint", "int", "bigint")
        for c in bloom_cols:
            t = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields).get(c)
            if t not in ok_types:
                raise ValueError(
                    f"bloom column {c!r} has type {t}; only string/"
                    "integer columns have a stable str() contract "
                    "between the JVM builder and the driver prober"
                )
        parts = []
        for c, m in bloom_cols.items():
            poss = F.array(
                *[
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col(c).cast("string"),
                                    F.lit(f"|{s}"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % m
                    for s in _BLOOM_SEEDS
                ]
            )
            parts.append(
                df.where(F.col(c).isNotNull()).select(
                    F.col("_dl_path").alias("p"),
                    F.lit(c).alias("c"),
                    F.explode(poss).alias("pos"),
                )
            )
        from functools import reduce

        allpos = reduce(lambda a, b: a.unionByName(b), parts)
        rows = (
            allpos.groupBy("p", "c")
            .agg(F.collect_set("pos").alias("bits"))
            .collect()
        )
        packed: dict[tuple, str] = {}
        for r in rows:
            m = bloom_cols[r.c]
            buf = bytearray(m // 8)
            for pos in r.bits:
                buf[pos // 8] |= 1 << (pos % 8)
            packed[(r.p.rsplit("/", 1)[-1], r.c)] = bytes(buf).hex()
        for f in adds:
            base = f["path"].rsplit("/", 1)[-1]
            blooms = {}
            for c, m in bloom_cols.items():
                hexbits = packed.get((base, c))
                if hexbits is not None:
                    blooms[c] = {"m": m, "hex": hexbits}
            if blooms:
                f["bloom"] = blooms

    def _current_constraints(self) -> dict:
        try:
            return self.snapshot().constraints
        except FileNotFoundError:
            return {}

    def _enforce_constraints(self, df: DataFrame) -> None:
        """Validate ``df`` against every table CHECK constraint in ONE
        aggregate pass (all violation counts in a single job — no
        per-constraint scans). CHECK semantics: a row violates only
        when the expression is FALSE; NULL passes (SQL standard), so
        NOT NULL is spelled ``col IS NOT NULL``. An expression that no
        longer analyzes (e.g. after an overwrite dropped its column)
        surfaces as Spark's analysis error — drop the constraint
        first."""
        from pyspark.sql import functions as F

        constraints = self._current_constraints()
        if not constraints:
            return
        counts = df.agg(
            *[
                F.sum(
                    F.when(
                        ~F.coalesce(F.expr(f"({expr})"), F.lit(True)), 1
                    ).otherwise(0)
                ).alias(name)
                for name, expr in constraints.items()
            ]
        ).collect()[0]
        bad = {
            name: int(counts[name] or 0)
            for name in constraints
            if (counts[name] or 0) > 0
        }
        if bad:
            detail = ", ".join(
                f"{n} [{constraints[n]}]: {c} rows" for n, c in bad.items()
            )
            raise ConstraintViolation(f"CHECK constraint(s) failed: {detail}")

    def add_constraint(
        self, spark: SparkSession, name: str, check_sql: str
    ) -> int:
        """ADD a named CHECK constraint (Delta `ALTER TABLE ... ADD
        CONSTRAINT`): the EXISTING table data is validated first (one
        aggregate pass), then a metadata-only commit records it; every
        subsequent write/merge/update validates its written rows before
        publishing, so the table invariant can never regress. NULL
        evaluations pass (SQL CHECK); restore is the one documented
        bypass (restored data predates the constraint)."""
        current = self._current_constraints()
        if name in current:
            raise ValueError(f"constraint {name!r} already exists")
        read_version = self.latest_version()
        snap = self.snapshot()
        probe = {**current, name: check_sql}
        if snap.files:
            from pyspark.sql import functions as F

            cnt = (
                self.read(spark)
                .agg(
                    F.sum(
                        F.when(
                            ~F.coalesce(
                                F.expr(f"({check_sql})"), F.lit(True)
                            ),
                            1,
                        ).otherwise(0)
                    ).alias("n")
                )
                .collect()[0]["n"]
                or 0
            )
            if cnt > 0:
                raise ConstraintViolation(
                    f"existing data violates {name!r} "
                    f"[{check_sql}]: {cnt} rows"
                )
        return self._commit(
            operation="add constraint",
            read_version=read_version,
            adds=[],
            removes=[],
            schema_json=snap.schema_json,
            partition_by=self._current_partition_by(),
            blind_append=False,
            info_extra={"constraint": name},
            constraints=probe,
        )

    def drop_constraint(self, name: str) -> int:
        """DROP a named CHECK constraint (metadata-only commit)."""
        current = self._current_constraints()
        if name not in current:
            raise ValueError(f"no constraint {name!r}")
        read_version = self.latest_version()
        snap = self.snapshot()
        return self._commit(
            operation="drop constraint",
            read_version=read_version,
            adds=[],
            removes=[],
            schema_json=snap.schema_json,
            partition_by=self._current_partition_by(),
            blind_append=False,
            info_extra={"constraint": name},
            constraints={
                k: v for k, v in current.items() if k != name
            },
        )

    def restore(self, version: int) -> int:
        """RESTORE the table to an earlier ``version`` (Delta RESTORE):
        ONE new commit whose active set becomes that snapshot's — no
        data is copied, and history after ``version`` stays
        time-travelable. Restored files must still exist (i.e. not
        vacuumed past), which is the standard retention caveat."""
        read_version = self.latest_version()
        target = self.snapshot(version=version)
        missing = [
            f["path"]
            for f in target.files
            if not os.path.exists(os.path.join(self.path, f["path"]))
        ]
        if missing:
            raise FileNotFoundError(
                f"restore to v{version} needs vacuumed files: {missing}"
            )
        current = self.snapshot()
        target_paths = {f["path"] for f in target.files}
        cur_by_path = {f["path"]: f for f in current.files}
        adds: list[dict] = []
        removes: list[dict] = []
        for f in target.files:
            c = cur_by_path.get(f["path"])
            if c is None:
                adds.append(f)
            elif c != f:
                # same path, different action (e.g. a DV grew since):
                # remove the current action so CDF pre-images are right,
                # then re-add the target's
                removes.append(_remove_action(c))
                adds.append(f)
        removes += [
            _remove_action(f)
            for f in current.files
            if f["path"] not in target_paths
        ]
        if not adds and not removes:
            return read_version
        return self._commit(
            operation="restore",
            read_version=read_version,
            adds=adds,
            removes=removes,
            schema_json=target.schema_json,
            partition_by=self._current_partition_by(),
            blind_append=False,
            info_extra={"restored_version": version},
        )

    def optimize(
        self,
        spark: SparkSession,
        target_size_bytes: int = 128 << 20,
        cluster_by: list[str] | None = None,
        purge_dv: bool = False,
        zorder: bool = False,
    ) -> int:
        """Compact small files (Delta OPTIMIZE): within each partition,
        groups of files totalling less than ``target_size_bytes`` apiece
        are rewritten into ceil(total/target) files in ONE atomic commit
        (remove smalls + add compacted), so readers always see identical
        rows and every prior version stays time-travelable until vacuum.

        ``cluster_by`` (Iceberg sort-order / Delta OPTIMIZE ZORDER
        analog): range-partition + sort the rewrite on those columns, so
        each output file owns a DISJOINT value range and the footer
        min/max stats actually prune — randomly-arrived data has every
        file spanning the full range, making stats useless until a
        clustered rewrite (the test pins scans dropping from all-files
        to one file). With ``cluster_by`` the rewrite always proceeds
        (clustering is the point even when the file count wouldn't
        shrink).

        Content-preserving but read-dependent: a concurrent commit of any
        kind raises ConcurrentWriteConflict (conservative — a production
        log could admit concurrent appends to untouched partitions).
        Returns the committed version, or the current version unchanged
        when nothing would change.
        """
        import math
        from collections import defaultdict

        read_version = self.latest_version()
        snap = self.snapshot()
        partition_by = self._current_partition_by()
        groups: dict[tuple, list[dict]] = defaultdict(list)
        for f in snap.files:
            groups[tuple(sorted(f.get("partition_values", {}).items()))].append(f)
        adds: list[dict] = []
        removes: list[dict] = []
        for fs in groups.values():
            total = sum(f.get("size_bytes", 0) for f in fs)
            n_out = max(1, math.ceil(total / target_size_bytes))
            if n_out >= len(fs) and not cluster_by:
                # layout already at target — but REORG (purge_dv=True)
                # still materializes deletion vectors away: rewrite
                # JUST the DV-carrying files, keeping their count
                if purge_dv:
                    fs = [f for f in fs if f.get("foreign_dv")]
                    if not fs:
                        continue
                    df = self._read_files(spark, fs, snap.schema_json)
                    adds += self._stage_data(df.coalesce(len(fs)), partition_by)
                    removes += [_remove_action(f) for f in fs]
                continue  # already at or below the target layout
            df = self._read_files(spark, fs, snap.schema_json)
            if cluster_by and zorder:
                # OPTIMIZE ZORDER BY (Delta) / Z-curve sort order
                # (Iceberg): interleave the two columns' bits so files
                # own compact 2-D tiles and min/max stats prune on
                # EITHER column — lexicographic range sort only prunes
                # the lead column
                from pyspark.sql import functions as F

                from data_lakehouse_project_spark.operators.maintenance import (
                    zorder_key,
                )

                if len(cluster_by) != 2:
                    raise ValueError(
                        "zorder clustering takes exactly two columns"
                    )
                df = (
                    df.withColumn(
                        "_zk",
                        zorder_key(
                            F.col(cluster_by[0]), F.col(cluster_by[1])
                        ),
                    )
                    .repartitionByRange(max(n_out, len(fs)), "_zk")
                    .sortWithinPartitions("_zk")
                    .drop("_zk")
                )
            elif cluster_by:
                df = df.repartitionByRange(
                    n_out, *cluster_by
                ).sortWithinPartitions(*cluster_by)
            else:
                df = df.coalesce(n_out)
            adds += self._stage_data(df, partition_by)
            removes += [_remove_action(f) for f in fs]
        if not adds:
            return read_version
        # content-preserving rewrite: the log must say so, or streams
        # re-ship compacted files and CDF refuses the commit
        for a in adds:
            a["data_change"] = False
        for r in removes:
            r["data_change"] = False
        return self._commit(
            operation="optimize",
            read_version=read_version,
            adds=adds,
            removes=removes,
            schema_json=snap.schema_json,
            partition_by=partition_by,
            blind_append=False,
        )

    def read_changes(
        self,
        spark: SparkSession,
        starting_version: int = 0,
        ending_version: int | None = None,
    ) -> DataFrame:
        """Change data feed over ``[starting_version, ending_version]``
        (Delta CDF semantics, derived at read time from the commit log):

        - ``append``: added files' rows as ``insert``;
        - ``overwrite``: removed files' rows as ``delete`` + added
          files' rows as ``insert`` (an overwrite IS a full replace);
        - ``merge`` / ``delete``: the ROW-LEVEL net diff — inserts =
          added rows ``exceptAll`` removed rows, deletes = the reverse —
          so an updated row surfaces as one delete (pre-image) + one
          insert (post-image) and untouched rewritten rows surface as
          nothing;
        - ``optimize``: no changes by construction (diff is empty).

        Appends ``_change_type`` / ``_commit_version`` /
        ``_commit_timestamp`` columns. Both diff sides read with the
        commit's own schema, so additive evolution aligns (older
        pre-images surface new columns as null). Requires the removed
        files to still exist — i.e. a vacuum horizon at or before
        ``starting_version``. The per-commit diff is a distributed
        ``exceptAll`` (one hash shuffle of only the rewritten files);
        a write-time change-file journal is the at-scale alternative and
        is noted, not needed, at this table's granularity.
        """
        from functools import reduce

        from pyspark.sql import functions as F

        versions = [
            v
            for v in _commit_versions(self.path)
            if v >= starting_version
            and (ending_version is None or v <= ending_version)
        ]
        if not versions:
            raise ValueError(
                f"no commits in [{starting_version}, {ending_version}]"
            )
        pieces: list[DataFrame] = []
        for v in versions:
            adds, removes, info, meta, txn = self._read_commit(v)
            schema_json = meta.get("schema_json") if meta else None
            tag = lambda df, kind: df.select(
                "*",
                F.lit(kind).alias("_change_type"),
                F.lit(v).cast("long").alias("_commit_version"),
                F.lit(info["timestamp"])
                .cast("long")
                .alias("_commit_timestamp"),
            )
            op = info.get("operation", "")
            if (op in ("merge", "delete", "optimize", "update", "restore")
                    and removes and adds):
                added_df = self._read_files(spark, adds, schema_json)
                removed_df = self._read_files(
                    spark, removes, schema_json
                )
                pieces.append(tag(added_df.exceptAll(removed_df), "insert"))
                pieces.append(tag(removed_df.exceptAll(added_df), "delete"))
            elif op in ("merge", "delete", "update", "restore") and removes:
                # delete-everything commit staged zero data files: every
                # pre-image row is a delete
                pieces.append(
                    tag(self._read_files(spark, removes, schema_json), "delete")
                )
            else:
                if removes:
                    pieces.append(
                        tag(
                            self._read_files(spark, removes, schema_json),
                            "delete",
                        )
                    )
                if adds:
                    pieces.append(
                        tag(self._read_files(spark, adds, schema_json), "insert")
                    )
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), pieces
        )

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete data files referenced by NO retained snapshot (the last
        ``keep_versions`` versions stay time-travelable) plus stray
        files no commit ever referenced. Returns deleted relative paths.
        Time travel older than the horizon is gone after vacuum — the
        standard retention trade."""
        versions = _commit_versions(self.path)
        if not versions:
            return []
        retained = versions[-max(1, keep_versions):]
        root = os.path.abspath(self.path)
        live: set[str] = set()
        for v in retained:
            for f in self.snapshot(version=v).files:
                live.add(f["path"])
                live.add(dv_file_path(f.get("foreign_dv") or {}, root))
        deleted = []
        for rel in _data_files(self.path):
            if rel not in live:
                os.remove(os.path.join(self.path, rel))
                deleted.append(rel)
        # deletion-vector files referenced by no retained snapshot
        for name in os.listdir(root):
            if (
                name.startswith("deletion_vector_")
                and name.endswith(".bin")
                and os.path.join(root, name) not in live
            ):
                os.remove(os.path.join(root, name))
                deleted.append(name)
        # change-data-feed files referenced by no RETAINED commit: CDF
        # over vacuumed history hard-errors (like time travel), so the
        # files follow the same retention horizon
        cdc_root = os.path.join(self.path, CDC_DIR)
        if os.path.isdir(cdc_root):
            live_cdc: set[str] = set()
            for v in retained:
                try:
                    with open(_commit_file(self.path, v)) as fh:
                        for line in fh:
                            line = line.strip()
                            if not line:
                                continue
                            action = json.loads(line)
                            if "cdc" in action:
                                live_cdc.add(action["cdc"]["path"])
                except OSError:
                    continue
            for dirpath, _, filenames in os.walk(cdc_root):
                for f in filenames:
                    if not f.endswith(".parquet"):
                        continue
                    rel = os.path.relpath(
                        os.path.join(dirpath, f), self.path
                    )
                    if rel not in live_cdc:
                        os.remove(os.path.join(dirpath, f))
                        deleted.append(rel)
        return deleted

    # ---------------- internals ----------------

    def _rel_path_col(self):
        """``_metadata.file_path`` normalized to the form file actions
        store: table-relative for files under this table's root,
        absolute for external files (shallow clones). Chained prefix
        strips cover the ``file://`` / ``file:`` / bare forms Spark
        emits; the trailing bare-scheme strips leave external absolute
        paths comparable to their stored ``/abs/...`` actions."""
        from pyspark.sql import functions as F

        root = os.path.abspath(self.path)
        c = F.col("_metadata.file_path")
        for pref in (
            f"file://{root}/",
            f"file:{root}/",
            f"{root}/",
            "file://",
            "file:",
        ):
            c = F.replace(c, F.lit(pref), F.lit(""))
        return c

    def _read_files(
        self,
        spark: SparkSession,
        files: list[dict],
        schema_json: str | None,
        with_lineage: bool = False,
    ) -> DataFrame:
        """DataFrame over explicit file actions (each a dict with at
        least ``path``), read with the given table schema so partition
        columns survive and evolved-away columns surface as null.

        File actions carrying a deletion vector (``foreign_dv``) have
        their deleted positions filtered out by the spec reader's
        anti-join on (file path, ``_metadata.row_index``)
        (``delta_log.drop_deleted_rows``) — merge-on-read, a map-side
        hash filter with no shuffle of the data while it is
        broadcast-sized.

        ``with_lineage=True`` keeps ``_dl_path`` / ``_dl_pos`` columns
        (table-relative file path, row position) for callers that need
        row provenance — the delete paths derive both touched-file sets
        and new DV positions from ONE scan this way.
        """
        from functools import reduce

        from pyspark.sql import functions as F

        schema = (
            _schema_from_json(spark, schema_json) if schema_json else None
        )

        def _reader():
            r = spark.read
            return r.schema(schema) if schema is not None else r

        # group by base dir: basePath keeps hive partition columns, and
        # Spark requires every path under it. Table-local (relative)
        # files share self.path; shallow-cloned (absolute) files group
        # under their OWN base = path minus partition dirs + filename.
        groups: dict[str, list[str]] = {}
        for f in files:
            p = f["path"]
            if os.path.isabs(p):
                strip = len(f.get("partition_values", {})) + 1
                base = os.sep.join(p.split(os.sep)[:-strip]) or os.sep
                groups.setdefault(base, []).append(p)
            else:
                groups.setdefault(self.path, []).append(
                    os.path.join(self.path, p)
                )
        has_dv = any(f.get("foreign_dv") for f in files)
        lineage = has_dv or with_lineage
        parts = []
        for base, paths in sorted(groups.items()):
            part = _reader().option("basePath", base).parquet(*paths)
            # hidden-partition columns (reserved _pt_ prefix) exist only
            # in the dir layout; Spark appends partition columns even
            # under an explicit schema, so strip them here — readers and
            # rewrite paths must never see (or restage) them as data
            hidden = [c for c in part.columns if c.startswith("_pt_")]
            if hidden:
                part = part.drop(*hidden)
            if lineage:
                # metadata pseudo-columns resolve only on the scan
                # relation — materialize them per group, pre-union
                cols = {
                    "_dl_path": self._rel_path_col(),
                    "_dl_pos": F.col("_metadata.row_index"),
                }
                if has_dv:
                    cols["_dl_abs"] = _spark_path_key()
                part = part.withColumns(cols)
            parts.append(part)
        df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        if has_dv:
            df = drop_deleted_rows(
                spark, df, files, self.path, self._abs, "_dl_abs", "_dl_pos"
            ).drop("_dl_abs")
        return df if with_lineage else df.drop("_dl_path", "_dl_pos")

    def _abs(self, p: str) -> str:
        """A file action's path on disk (shallow clones hold absolute
        paths, everything else is table-relative)."""
        return os.path.join(self.path, p)

    def _current_meta(self) -> dict:
        """The newest commit's parsed metaData ({} when none)."""
        for v in reversed(_commit_versions(self.path)):
            meta, _ = sniff_commit_meta_protocol(self.path, v)
            if meta is not None:
                return _parse_meta(meta)
        return {}

    def _current_partition_by(self) -> list[str]:
        """partition_by recorded by the newest commit that declared one."""
        return self._current_meta().get("partition_by") or []

    def _check_append_schema(
        self, df: DataFrame, allow_evolution: bool
    ) -> None:
        current = self.snapshot().schema_json
        if not current:
            return
        old = {
            f["name"]: json.dumps(f["type"], sort_keys=True)
            for f in json.loads(current)["fields"]
        }
        new = {
            f["name"]: json.dumps(f["type"], sort_keys=True)
            for f in json.loads(df.schema.json())["fields"]
        }
        dropped = {n for n in old if n not in new}
        changed = {n for n in old if n in new and old[n] != new[n]}
        # type WIDENING (Delta's type-widening evolution) is additive:
        # older files' narrower physical types read losslessly under the
        # wider snapshot schema (parquet upcast verified in tests);
        # narrowing stays a conflict
        widened = {
            n
            for n in changed
            if (json.loads(old[n]), json.loads(new[n])) in _WIDENINGS
        }
        conflict = changed - widened
        added = {n for n in new if n not in old}
        if dropped or conflict:
            raise SchemaMismatchError(
                f"append would drop {sorted(dropped)} / retype "
                f"{sorted(conflict)}; use mode='overwrite' to replace "
                "the schema"
            )
        if (added or widened) and not allow_evolution:
            raise SchemaMismatchError(
                f"append adds fields {sorted(added)} / widens "
                f"{sorted(widened)}; pass allow_schema_evolution=True "
                "for additive evolution"
            )

    def _read_commit(self, version: int):
        """One commit's (adds, removes, commitInfo, parsed metaData or
        None, txn actions) through the shared action codec."""
        adds, removes, info, meta, _, txns, _ = _read_commit_actions(
            self.path, version
        )
        return adds, removes, info, meta and _parse_meta(meta), txns

    def _prev_commit_identity(self, prev_version: int):
        """(table_id, dv_protocol_active) from the previous commit —
        one O(1) file scan; every commit carries metaData + protocol.
        The DV protocol flag is STICKY: once a table publishes
        readerFeatures=["deletionVectors"] it never downgrades while
        deletion vectors may still be referenced by live or
        time-travel snapshots."""
        table_id, dv_active = None, False
        if prev_version >= 0:
            try:
                with open(_commit_file(self.path, prev_version)) as fh:
                    for line in fh:
                        action = json.loads(line)
                        if "metaData" in action:
                            table_id = action["metaData"].get("id")
                        elif "protocol" in action:
                            dv_active = (
                                action["protocol"].get("minReaderVersion", 1)
                                >= 3
                            )
            except OSError:
                pass
        return table_id, dv_active

    def _stage_data(
        self, df: DataFrame, partition_by: list[str] | None
    ) -> list[dict]:
        """Write data files into the table dir under unique names and
        return their add actions (stats harvested from footers). The
        files are INVISIBLE to readers until a commit references them —
        this is what makes publish atomic."""
        staging = os.path.join(
            self.path, f"_staging_{uuid.uuid4().hex}"
        )
        physical, transforms = _parse_partition_spec(partition_by)
        for t in transforms:
            # hidden-partitioning: derive the transform value for the
            # layout; it lives in the dirs only (the snapshot schema —
            # recorded from the PRE-derivation df — governs reads, so
            # readers never see it)
            df = df.withColumn(t["hidden"], _transform_expr(t, df))
        part_cols = physical + [t["hidden"] for t in transforms]
        writer = df.write.mode("overwrite").format("parquet")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.save(staging)
        adds = []
        for rel in _data_files(staging):
            src = os.path.join(staging, rel)
            parts = rel.split(os.sep)
            parts[-1] = f"part-{uuid.uuid4().hex}.parquet"
            dst_rel = os.sep.join(parts)
            dst = os.path.join(self.path, dst_rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            adds.append(
                {
                    "path": dst_rel,
                    "size_bytes": os.path.getsize(dst),
                    "partition_values": _partition_values(dst_rel),
                    "stats": _file_stats(dst),
                }
            )
        _rmtree_quiet(staging)
        return adds

    def _stage_cdc(
        self, df: DataFrame, partition_by: list[str] | None
    ) -> list[dict]:
        """Write change-data-feed rows (table columns + _change_type)
        under ``_change_data/`` and return their ``cdc`` actions.  Like
        staged data files, they are INVISIBLE until a commit references
        them; partitioned tables partition the cdc layout by the same
        PHYSICAL columns so each file carries one partitionValues."""
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        physical, _ = _parse_partition_spec(partition_by)
        writer = df.write.mode("overwrite").format("parquet")
        if physical:
            writer = writer.partitionBy(*physical)
        writer.save(staging)
        cdc_dir = os.path.join(self.path, CDC_DIR)
        actions = []
        for rel in _data_files(staging):
            src = os.path.join(staging, rel)
            parts = rel.split(os.sep)
            parts[-1] = f"cdc-{uuid.uuid4().hex}.parquet"
            dst_rel = os.path.join(CDC_DIR, os.sep.join(parts))
            dst = os.path.join(self.path, dst_rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            actions.append(
                {
                    "path": dst_rel,
                    "partitionValues": _partition_values(dst_rel),
                    "size": os.path.getsize(dst),
                    "dataChange": False,
                }
            )
        _rmtree_quiet(staging)
        return actions

    def _commit(
        self,
        operation: str,
        read_version: int,
        adds: list[dict],
        removes: list[dict],
        schema_json: str,
        partition_by: list[str] | None,
        blind_append: bool,
        max_retries: int = 20,
        info_extra: dict | None = None,
        constraints: dict | None = None,
        txn: tuple[str, int] | None = None,
        cdc_actions: list[dict] | None = None,
    ) -> int:
        """Publish the actions as the next version through
        ``delta_log.publish_commit``. Losing a race means someone else
        owns that version — blind appends retry at the new tip;
        read-dependent operations raise ConcurrentWriteConflict."""
        os.makedirs(_log_dir(self.path), exist_ok=True)
        if constraints is None:  # carry the table's current constraints
            constraints = self._current_constraints()
        # bucket-transform hash lineage: staging uses the Iceberg
        # spec's murmur3 (see functions.ice_transforms); tables whose
        # older files were laid out by the legacy md5 bucket must
        # never murmur3-prune, so a full overwrite (uniform relayout)
        # stamps "murmur3" while an incremental commit over unmarked
        # legacy bucket files stamps "mixed" (pruning disabled)
        bucket_hash = None
        _, _tf = _parse_partition_spec(partition_by)
        if any(t["transform"] == "bucket" for t in _tf):
            prev = self._current_meta()
            _, _ptf = _parse_partition_spec(
                prev.get("partition_by") or []
            )
            prev_bucket = any(
                t["transform"] == "bucket" for t in _ptf
            )
            if operation == "overwrite" or not prev_bucket:
                bucket_hash = "murmur3"
            elif prev.get("bucket_hash") == "murmur3":
                bucket_hash = "murmur3"
            else:
                bucket_hash = "mixed"
        dv_in_commit = any(a.get("foreign_dv") for a in adds) or any(
            r.get("foreign_dv") for r in removes
        )
        fresh_table_id = str(uuid.uuid4())  # used only for version 0
        attempt_version = read_version + 1
        for _ in range(max_retries):
            ts_ms = int(time.time() * 1000)
            table_id, dv_active = self._prev_commit_identity(
                attempt_version - 1
            )
            protocol = (
                dict(_PROTOCOL_DV)
                if (dv_in_commit or dv_active)
                else dict(_PROTOCOL_BASE)
            )
            actions = [
                {"protocol": protocol},
                {
                    "metaData": _serialize_meta(
                        schema_json,
                        partition_by,
                        constraints,
                        table_id or fresh_table_id,
                        ts_ms,
                        bucket_hash=bucket_hash,
                    )
                },
            ]
            if txn is not None:
                actions.append(
                    {
                        "txn": {
                            "appId": txn[0],
                            "version": txn[1],
                            "lastUpdated": ts_ms,
                        }
                    }
                )
            actions += [{"add": _serialize_add(a, ts_ms)} for a in adds]
            actions += [
                {"remove": _serialize_remove(r, ts_ms)} for r in removes
            ]
            actions += [{"cdc": c} for c in (cdc_actions or [])]
            try:
                publish_commit(
                    self.path,
                    attempt_version,
                    actions,
                    operation,
                    ts_ms=ts_ms,
                    extra={
                        "version": attempt_version,
                        "readVersion": read_version,
                        **(info_extra or {}),
                    },
                )
            except ConcurrentCommitError:
                if not blind_append:
                    raise ConcurrentWriteConflict(
                        f"{operation} read version {read_version} but "
                        f"version {attempt_version} was committed by "
                        "another writer; re-read and retry"
                    ) from None
                if txn is not None:
                    # the commit we lost to may have been our own
                    # replayed micro-batch — exactly-once re-check
                    seen = self.snapshot().txns.get(txn[0], -1)
                    if seen >= txn[1]:
                        return self.latest_version()
                attempt_version = self.latest_version() + 1
                continue
            self._maybe_checkpoint(attempt_version)
            return attempt_version
        raise ConcurrentWriteConflict(
            f"append lost {max_retries} publish races; giving up"
        )


# ---- Iceberg-style hidden partitioning (partition transforms) ----
#
# ``partition_by`` entries may be TRANSFORMS of a source column —
# ``day(ts)``, ``month(ts)``, ``bucket(8, user_id)``,
# ``truncate(4, name)`` — not just raw columns. The derived value
# partitions the layout (hive dirs) but NEVER appears in the read
# schema (the snapshot schema governs reads), and predicates on the
# SOURCE column prune files driver-side via the recorded partition
# values: Iceberg's "hidden partitioning" — users query ``ts``, never a
# manually-maintained ``ts_day`` twin that silently desyncs. The bucket
# hash is the same md5-of-str contract as the bloom index, computable
# identically JVM-side and driver-side.

_TRANSFORM_RE = None  # compiled lazily (keeps `re` out of module scope)


def _parse_partition_spec(partition_by):
    """Split ``partition_by`` into (physical passthrough columns,
    transform dicts {hidden, transform, n, col})."""
    global _TRANSFORM_RE
    if _TRANSFORM_RE is None:
        import re

        _TRANSFORM_RE = re.compile(
            r"^(year|month|day|hour|bucket|truncate)\("
            r"(?:(\d+)\s*,\s*)?([A-Za-z_][A-Za-z0-9_]*)\)$"
        )
    physical, transforms = [], []
    for spec in partition_by or []:
        m = _TRANSFORM_RE.match(spec.strip())
        if not m:
            physical.append(spec)
            continue
        kind, n, col = m.group(1), m.group(2), m.group(3)
        if kind in ("bucket", "truncate"):
            if not n or int(n) < 1:
                raise ValueError(f"{kind} transform needs a width: {spec}")
        hidden = (
            f"_pt_{kind}{n}_{col}" if n else f"_pt_{kind}_{col}"
        )
        transforms.append(
            {
                "hidden": hidden,
                "transform": kind,
                "n": int(n) if n else None,
                "col": col,
            }
        )
    return physical, transforms


def _transform_expr(t: dict, df: DataFrame):
    """JVM expression deriving the hidden partition value."""
    from pyspark.sql import functions as F

    c = F.col(t["col"])
    kind = t["transform"]
    if kind == "year":
        return F.date_format(c.cast("timestamp"), "yyyy")
    if kind == "month":
        return F.date_format(c.cast("timestamp"), "yyyy-MM")
    if kind == "day":
        return F.date_format(c.cast("timestamp"), "yyyy-MM-dd")
    if kind == "hour":
        return F.date_format(c.cast("timestamp"), "yyyy-MM-dd-HH")
    if kind == "bucket":
        # Iceberg spec bucket: murmur3_x86_32 over the single-value
        # binary serialization — identical arithmetic on data
        # (ice_transforms.bucket_col), pruning literals
        # (_transform_literal) and the Iceberg metadata export, so an
        # exported bucket[N] spec is honest to foreign engines
        from data_lakehouse_project_spark.functions.ice_transforms import (
            bucket_col,
        )

        dt = dict(
            (f.name, f.dataType.simpleString())
            for f in df.schema.fields
        ).get(t["col"], "string")
        return bucket_col(c, _ICE_TYPE_OF_SPARK.get(dt, "string"), t["n"])
    # truncate: prefix for strings, floor-to-width for integers
    dtype = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    ).get(t["col"], "string")
    if dtype == "string":
        return F.substring(c, 1, t["n"])
    return c - F.pmod(c, F.lit(t["n"]))


# Full grain length of each temporal transform's hidden value
# ("2024" / "2024-03" / "2024-03-04" / "2024-03-04-10").
_GRAIN_LEN = {"year": 4, "month": 7, "day": 10, "hour": 13}

# Spark simpleString -> Iceberg type, for the bucket transform's
# type-sensitive murmur3 serialization
_ICE_TYPE_OF_SPARK = {
    "long": "long", "bigint": "long", "int": "int", "integer": "int",
    "short": "int", "string": "string", "date": "date",
    "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def _transform_literal(t: dict, val, dtype: str | None = None):
    """Driver-side twin of ``_transform_expr`` for a predicate literal.

    May return a value COARSER than the transform's grain when the
    literal itself is coarse (e.g. a date literal against an hour(ts)
    transform yields day grain) — ``_expand_prune`` detects that via
    ``_GRAIN_LEN`` and widens equality to a prefix range instead of a
    never-matching exact compare.

    ``dtype`` (the source column's Spark simpleString, when the caller
    knows the schema) makes the BUCKET twin type-faithful: the spec's
    murmur3 serializes dates/timestamps as longs, so a string literal
    against a date-bucketed column is coerced before hashing."""
    import datetime

    kind = t["transform"]
    if kind in ("year", "month", "day", "hour"):
        if isinstance(val, (datetime.date, datetime.datetime)):
            s = val.isoformat(sep=" ") if isinstance(
                val, datetime.datetime
            ) else val.isoformat()
        else:
            s = str(val)
        if kind == "hour":
            # "2024-03-04 10:..." / "2024-03-04T10" → "2024-03-04-10"
            return s[:10] + "-" + s[11:13] if len(s) >= 13 else s[:10]
        return {"year": s[:4], "month": s[:7], "day": s[:10]}[kind]
    if kind == "bucket":
        from data_lakehouse_project_spark.functions.ice_transforms import (
            bucket_value,
        )

        ice_t = _ICE_TYPE_OF_SPARK.get(dtype or "", None)
        if ice_t is None:  # infer from the literal's Python type
            if isinstance(val, datetime.datetime):
                ice_t = "timestamptz"
            elif isinstance(val, datetime.date):
                ice_t = "date"
            elif isinstance(val, int):
                ice_t = "long"
            elif isinstance(val, (bytes, bytearray)):
                ice_t = "binary"
            else:
                ice_t = "string"
        if ice_t in ("date", "timestamp", "timestamptz") and isinstance(
            val, str
        ):
            val = (
                datetime.date.fromisoformat(val)
                if ice_t == "date" and len(val) <= 10
                else datetime.datetime.fromisoformat(val)
            )
        return bucket_value(val, ice_t, t["n"])
    if isinstance(val, str):
        return val[: t["n"]]
    return val - (val % t["n"])


def _dtypes_of_schema_json(schema_json: str | None) -> dict[str, str]:
    """Top-level column -> Spark simpleString type name (primitive
    columns only — complex types are never transform sources)."""
    if not schema_json:
        return {}
    out = {}
    for f in json.loads(schema_json).get("fields", []):
        if isinstance(f.get("type"), str):
            out[f["name"]] = f["type"]
    return out


def _expand_prune(prune, transforms, dtype_of=None, bucket_ok=True):
    """Map source-column predicates onto hidden partition columns.

    Transforms are monotone but NOT strictly — ``v < X`` only implies
    ``day(v) <= day(X)`` — so strict ops weaken to inclusive on the
    transformed value; bucket supports equality only. The ORIGINAL
    predicate is always kept (and applied as a real filter), so pruning
    stays a pure IO optimization.

    When the literal is COARSER-grained than the transform (a date
    literal against ``hour(ts)`` yields day grain "2024-03-04" while
    hidden values are "2024-03-04-00".."-23"), an exact/upper-bound
    compare would wrongly prune every matching file. Such literals are
    widened to a lexicographic prefix range: ``=`` becomes
    ``hidden >= P AND hidden <= P+"~"`` ("~" sorts after "-" and all
    digits, so it upper-bounds every finer suffix of P), and weakened
    ``<=`` uses the same padded upper bound."""
    if not transforms or not prune:
        return list(prune or [])
    weaken = {"=": "=", "<": "<=", "<=": "<=", ">": ">=", ">=": ">="}
    out = list(prune)
    for col, op, val in prune:
        for t in transforms:
            if t["col"] != col or op not in weaken:
                continue
            if t["transform"] == "bucket" and (op != "=" or not bucket_ok):
                # bucket_ok=False: legacy/mixed-hash layouts (see
                # _commit's bucket_hash lineage) must not prune
                continue
            lit = _transform_literal(
                t, val, (dtype_of or {}).get(col)
            )
            grain = _GRAIN_LEN.get(t["transform"])
            coarse = (
                grain is not None
                and isinstance(lit, str)
                and len(lit) < grain
            )
            if not coarse:
                out.append((t["hidden"], weaken[op], lit))
            elif op == "=":
                out.append((t["hidden"], ">=", lit))
                out.append((t["hidden"], "<=", lit + "~"))
            elif weaken[op] == "<=":
                out.append((t["hidden"], "<=", lit + "~"))
            else:  # >= / > — a coarse lower bound is already safe
                out.append((t["hidden"], ">=", lit))
    return out


_BLOOM_SEEDS = (1, 2, 3, 4, 5)  # k = 5 hash functions
_BLOOM_MAX_BITS = 1 << 20  # driver-memory bound per (file, column)


def _bloom_positions_py(value, num_bits: int) -> list[int]:
    """Driver-side twin of the JVM bloom-bit derivation — md5 of
    ``"{value}|{seed}"`` (md5 exists identically on both sides; the
    formatting contract is str() of the literal, so bloom columns are
    restricted to string/integer types)."""
    import hashlib

    return [
        int(
            hashlib.md5(f"{value}|{s}".encode()).hexdigest()[:15], 16
        )
        % num_bits
        for s in _BLOOM_SEEDS
    ]


def _remove_action(f: dict) -> dict:
    """Remove action for a file action — carries the file's deletion
    vector (when present) so CDF pre-images exclude already-deleted
    rows. Snapshot replay keys removes by path only."""
    return {"path": f["path"], "foreign_dv": f.get("foreign_dv")}


def _file_may_match(
    f: dict, prune: list[tuple[str, str, object]]
) -> bool:
    """Conservative range check: False only when the file PROVABLY has no
    matching row. Missing stats → True (never prune blind)."""
    cols = f.get("stats", {}).get("columns", {})
    parts = f.get("partition_values", {})
    blooms = f.get("bloom", {})
    num_rows = f.get("stats", {}).get("num_rows")
    for col, op, val in prune:
        # null-count pruning: footer null_count is exact, so IS NULL
        # prunes files with zero nulls and IS NOT NULL prunes all-null
        # files. A column with rows but NO stats entry may be all-null
        # (footers omit min/max then) — never prune is-null blind.
        if op in ("isnull", "isnotnull"):
            nc = cols.get(col, {}).get("null_count")
            if nc is None:
                continue
            if op == "isnull" and nc == 0:
                return False
            if (
                op == "isnotnull"
                and num_rows is not None
                and nc >= num_rows
            ):
                return False
            continue
        if op == "=" and col in blooms:
            b = blooms[col]
            raw = bytes.fromhex(b["hex"])
            if any(
                not raw[pos // 8] & (1 << (pos % 8))
                for pos in _bloom_positions_py(val, b["m"])
            ):
                return False  # definite miss — no false negatives
        if col in parts:
            lo = hi = _coerce_like(val, parts[col])
        elif col in cols and "min" in cols[col]:
            lo, hi = cols[col]["min"], cols[col]["max"]
        else:
            continue
        try:
            if op == "=" and not (lo <= val <= hi):
                return False
            if op == "<" and not (lo < val):
                return False
            if op == "<=" and not (lo <= val):
                return False
            if op == ">" and not (hi > val):
                return False
            if op == ">=" and not (hi >= val):
                return False
        except TypeError:
            continue  # incomparable types → may match
    return True


def _coerce_like(template, s: str):
    """Partition values are stored as strings; compare in the predicate
    value's type when it parses."""
    try:
        return type(template)(s)
    except (TypeError, ValueError):
        return s


def _schema_from_json(spark: SparkSession, schema_json: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(schema_json))


def _rmtree_quiet(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
