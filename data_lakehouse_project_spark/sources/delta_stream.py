"""Streaming SOURCE over a Delta transaction log (Spark 4 Python
DataSource API): ``spark.readStream.format("delta_stream")
.option("path", table).load()`` tails a ``_delta_log`` the way
delta-spark's streaming source does — micro-batch offsets ARE log
versions, so exactly-once replay falls out of the log's own
numbering (offset (start, end] = commits start+1..end, a
deterministic file set forever).

Semantics (mirroring the published Delta streaming-source contract):

* Each micro-batch ships the ``add`` actions of the commits in the
  offset range, one input partition per data file — executors read
  their own parquet via pyarrow and emit Arrow RecordBatches (no
  driver materialization; the driver touches only the log).
* ``remove`` actions mean the table changed by something other than
  an append. Like Delta, the source REFUSES to continue (the stream
  would silently miss the rewrite) unless ``ignoreDeletes`` (skip
  delete-only commits) or ``ignoreChanges`` (also ship the rewritten
  files' adds — downstream must dedup, exactly Delta's caveat).
* ``startingVersion`` (default 0) picks where the tail begins; DV- or
  deletionVector-bearing files are refused (protocol rule: never
  resurrect deleted rows), column order follows the table schema, and
  partition columns — absent from Delta data files — are attached
  per-partition from ``add.partitionValues``.  Column-mapped tables
  stream: the executor read resolves physical names (``name`` mode)
  or parquet field ids (``id`` mode — id-less files refused).
* ``startingVersion="latest"`` tails only FUTURE commits;
  ``startingVersion="first-available"`` bootstraps the full snapshot
  at the earliest reconstructable version — for a log whose early
  JSON was vacuumed, that is the parquet-checkpoint state the batch
  reader already parses, shipped as the first micro-batch, then the
  plain commit tail.  A numeric ``startingVersion`` inside a vacuumed
  gap still raises (Delta's "earliest available version" error).
* Backpressure: ``maxCommitsPerTrigger`` bounds each micro-batch's
  log window at commit grain; ``maxBytesPerTrigger`` bounds it by the
  add-actions' cumulative file size (Delta's maxBytesPerTrigger
  contract: a soft cap — each batch takes whole commits until the
  budget is crossed, always at least one).

The batch-read halves of this surface are
``operators/delta_reader.py`` (foreign snapshots) and
``operators/txnlog.py`` (full-featured internal tables).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from data_lakehouse_project_spark.operators.delta_log import _parse_meta
from data_lakehouse_project_spark.operators.delta_reader import (
    CorruptDeltaLog,
    UnsupportedDeltaFeature,
    _check_protocol,
    _commit_versions,
    _read_commit_actions,
    read_delta_snapshot,
    sniff_commit_meta_protocol,
)


class _DeltaFilePartition(InputPartition):
    def __init__(self, path, partition_values, schema_json, part_cols,
                 cdf=None, phys_of=None, ids_of=None,
                 positions=None, excluded=None):
        self.path = path
        self.partition_values = partition_values
        self.schema_json = schema_json
        self.part_cols = part_cols
        # CDF mode: (change_type | None if the file carries its own,
        #            commit_version, commit_timestamp_ms)
        self.cdf = cdf
        # column mapping: logical -> physical parquet name ("name"
        # mode) / logical -> parquet field id ("id" mode)
        self.phys_of = phys_of
        self.ids_of = ids_of
        # row-index selection (sorted lists; at most one is set):
        # positions -> emit ONLY these rows (DV-diff change rows);
        # excluded -> emit all BUT these (DV-bearing file's live rows).
        # Shipped in the pickled partition — bounded by one file's DV
        # cardinality, the same per-file metadata Delta readers hold.
        self.positions = positions
        self.excluded = excluded


class DeltaStreamDataSource(DataSource):
    """``spark.readStream.format("delta_stream")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "delta_stream"

    def _table_meta(self):
        table = self.options.get("path")
        if not table:
            raise ValueError("delta_stream requires option('path', ...)")
        versions = _commit_versions(table)
        # newest metaData wins; protocol may live in an OLDER commit
        # (e.g. created at v0, schema-changed at v5) — keep scanning
        # until BOTH are found, so gating never silently skips.  The
        # sniff parses only metaData/protocol lines (no add-action
        # validation on the way).
        meta_raw = protocol_raw = None
        for v in reversed(versions):
            m_raw, p_raw = sniff_commit_meta_protocol(table, v)
            if meta_raw is None and m_raw is not None:
                meta_raw = m_raw
            if protocol_raw is None and p_raw is not None:
                protocol_raw = p_raw
            if meta_raw is not None and protocol_raw is not None:
                break
        if meta_raw is None:
            # log-cleaned table: metaData lives only in the parquet
            # checkpoint — the batch reader's snapshot replay finds it
            snap = read_delta_snapshot(table)
            meta_raw = {
                "schemaString": snap.schema_json,
                "partitionColumns": snap.partition_columns,
                "configuration": snap.configuration,
            }
            protocol_raw = snap.protocol  # already gated by the replay
        else:
            if protocol_raw is None:
                # protocol survives only in a checkpoint: the snapshot
                # replay recovers (and gates) it — never stream a
                # table whose protocol was never checked
                protocol_raw = read_delta_snapshot(table).protocol
            _check_protocol(
                protocol_raw, meta_raw.get("configuration") or {}
            )
        return table, meta_raw

    def _cdf_mode(self) -> bool:
        return (
            self.options.get("readChangeFeed", "false").lower() == "true"
        )

    def schema(self) -> StructType:
        _, meta_raw = self._table_meta()
        # session-free: Delta's schemaString IS StructType JSON, and
        # DataSource.schema() can run on a thread with no active session
        base = StructType.fromJson(
            json.loads(_parse_meta(meta_raw)["schema_json"])
        )
        if self._cdf_mode():
            from pyspark.sql.types import LongType, StringType

            base = (
                base.add("_change_type", StringType())
                .add("_commit_version", LongType())
                .add("_commit_timestamp", LongType())
            )
        return base

    def streamReader(self, schema: StructType):
        table, meta_raw = self._table_meta()
        raw_start = str(self.options.get("startingVersion", "0"))
        raw_ts = self.options.get("startingTimestamp")
        if raw_ts is not None:
            # delta-spark parity: the stream starts at the first
            # commit AT OR AFTER the timestamp (commit clocks per the
            # spec's ordering); a timestamp past the newest commit
            # tails only future commits, like startingVersion=latest
            from data_lakehouse_project_spark.operators.delta_reader import (
                _commit_timestamp_ms,
            )

            want = int(raw_ts)
            versions = _commit_versions(table)
            after = [
                v
                for v in versions
                if _commit_timestamp_ms(table, v) >= want
            ]
            raw_start = (
                str(after[0]) if after else "latest"
            )
        bootstrap = None
        if raw_start == "latest":
            versions = _commit_versions(table)
            start = (versions[-1] if versions else -1) + 1
        elif raw_start == "first-available":
            versions = _commit_versions(table)
            if versions and versions == list(range(0, versions[-1] + 1)):
                start = 0  # whole history replayable commit-by-commit
            else:
                # vacuumed log: ship the checkpoint snapshot as the
                # first batch, then tail the remaining commits
                snap = read_delta_snapshot(table)
                bootstrap = snap.version
                start = snap.version + 1
        else:
            start = int(raw_start)
        # readChangeFeed + first-available over a vacuumed log: the
        # per-commit changes before the checkpoint are gone, so the
        # snapshot itself is emitted as `insert` changes stamped with
        # _commit_version = the snapshot version (explicit
        # emitted-from-version semantics, like delta-spark's CDF
        # startingVersion=0 on a log-cleaned table); the tail then
        # replays exactly the post-checkpoint changes.
        # column mapping: the executor-side pyarrow read resolves
        # physical names ("name" mode) or parquet field ids ("id"
        # mode) directly — same contracts as the batch reader
        from data_lakehouse_project_spark.operators.delta_reader import (
            _field_ids,
            _physical_names,
            has_nested_mapping,
        )

        mapping = (meta_raw.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        phys_of = ids_of = None
        schema_json_raw = meta_raw.get("schemaString")
        if mapping in ("name", "id") and has_nested_mapping(
            schema_json_raw
        ):
            # the executor-side arrow read resolves TOP-LEVEL names/ids
            # only; a nested mapped field would be silently mis-read
            # (the batch reader handles nested mapping — use it)
            raise UnsupportedDeltaFeature(
                "column mapping on NESTED fields is not supported by "
                "the streaming source"
            )
        if mapping == "name":
            phys_of = _physical_names(schema_json_raw)
        elif mapping == "id":
            phys_of = _physical_names(schema_json_raw)
            ids_of = _field_ids(schema_json_raw)
        elif mapping not in ("none", ""):
            raise UnsupportedDeltaFeature(
                f"column mapping mode '{mapping}' is not supported"
            )
        return _DeltaStreamReader(
            table,
            schema,
            list(meta_raw.get("partitionColumns") or []),
            start,
            self.options.get("ignoreDeletes", "false").lower() == "true",
            self.options.get("ignoreChanges", "false").lower() == "true",
            int(self.options.get("maxCommitsPerTrigger", "0")),
            int(self.options.get("maxBytesPerTrigger", "0")),
            max_files_per_trigger=int(
                self.options.get("maxFilesPerTrigger", "0")
            ),
            bootstrap_version=bootstrap,
            read_change_feed=self._cdf_mode(),
            phys_of=phys_of,
            ids_of=ids_of,
        )


class _DeltaStreamReader(DataSourceStreamReader):
    def __init__(
        self, table, schema, part_cols, starting_version,
        ignore_deletes, ignore_changes, max_commits_per_trigger=0,
        max_bytes_per_trigger=0, bootstrap_version=None,
        read_change_feed=False, phys_of=None, ids_of=None,
        max_files_per_trigger=0,
    ):
        self._table = table
        self._schema = schema
        self._part_cols = [c for c in part_cols if c in schema.names]
        self._start = starting_version
        self._ignore_deletes = ignore_deletes
        self._ignore_changes = ignore_changes
        self._max_commits = max_commits_per_trigger
        self._max_bytes = max_bytes_per_trigger
        self._max_files = max_files_per_trigger
        self._bootstrap = bootstrap_version
        self._cdf = read_change_feed
        self._phys_of = phys_of
        self._ids_of = ids_of
        # backpressure bookkeeping: the highest offset this reader has
        # already handed out (advanced by latestOffset, synced forward
        # by partitions() so a checkpoint restart — where Spark knows
        # the committed offset but this fresh object doesn't — can't
        # replay a window the budget already covered)
        self._handed_out = self._start - 1

    # ---- offsets: {"version": last consumed commit version} ----

    def initialOffset(self) -> dict:
        if self._bootstrap is not None:
            # the key survives Spark's offset-log JSON round trip, so
            # a checkpoint RESTART whose first committed batch was the
            # snapshot replays it identically
            return {"version": self._start - 1, "bootstrap": self._bootstrap}
        return {"version": self._start - 1}

    def latestOffset(self) -> dict:
        versions = _commit_versions(self._table)
        latest = versions[-1] if versions else self._start - 1
        if self._max_commits > 0:
            # maxCommitsPerTrigger: bound each micro-batch's log
            # window (Delta's maxFilesPerTrigger analog at commit
            # grain). The first batch after a RESTART is unbounded —
            # the Python stream-reader API gives latestOffset no view
            # of the checkpointed start — then steady-state batches
            # are budgeted again (partitions() re-syncs _handed_out).
            latest = min(latest, self._handed_out + self._max_commits)
        if (
            self._max_bytes > 0 or self._max_files > 0
        ) and latest > self._handed_out:
            # maxBytesPerTrigger / maxFilesPerTrigger: whole commits
            # until the cumulative add size (or add-file count, the
            # Delta contract's primary knob) crosses the budget;
            # never fewer than one commit
            byte_budget = self._max_bytes or float("inf")
            file_budget = self._max_files or float("inf")
            chosen = self._handed_out
            for v in range(self._handed_out + 1, latest + 1):
                try:
                    adds, *_ = _read_commit_actions(self._table, v)
                except OSError:
                    break  # gap — partitions() raises the real error
                size = sum(a.get("size_bytes", 0) for a in adds)
                nfiles = len(adds)
                if chosen > self._handed_out and (
                    size > byte_budget or nfiles > file_budget
                ):
                    break
                byte_budget -= size
                file_budget -= nfiles
                chosen = v
            latest = max(chosen, self._handed_out + 1)
        self._handed_out = max(self._handed_out, latest)
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["version"], end["version"]
        self._handed_out = max(self._handed_out, hi)
        schema_json = self._schema.json()
        boot_parts: list[_DeltaFilePartition] = []
        if start.get("bootstrap") is not None:
            # first-available bootstrap: the range's head is the full
            # checkpoint snapshot at `bootstrap`, then the plain tail.
            # The same deterministic file set replays on restart — the
            # snapshot at a pinned version never changes.
            from data_lakehouse_project_spark.operators.dv import (
                resolve_dv_positions,
            )

            boot = int(start["bootstrap"])
            snap = read_delta_snapshot(self._table, version=boot)
            for f in snap.files:
                # spec DVs apply as per-file excluded row indexes —
                # the snapshot's LIVE rows ship, deleted rows don't
                excl = None
                if f.get("foreign_dv"):
                    excl = sorted(
                        resolve_dv_positions(
                            f["foreign_dv"], self._table
                        )
                    ) or None
                p = f["path"]
                if not os.path.isabs(p):
                    p = os.path.join(self._table, p)
                boot_parts.append(
                    _DeltaFilePartition(
                        p,
                        f.get("partition_values") or {},
                        schema_json,
                        self._part_cols,
                        cdf=(
                            ("insert", boot, snap.timestamp_ms)
                            if self._cdf
                            else None
                        ),
                        phys_of=self._phys_of,
                        ids_of=self._ids_of,
                        excluded=excl,
                    )
                )
            lo = boot  # tail resumes after the snapshot version
        if hi <= lo:
            # Spark requires ≥1 partition; an empty file partition
            # yields no rows
            return boot_parts or [_DeltaFilePartition(None, {}, "", [])]
        available = [
            v for v in _commit_versions(self._table) if lo < v <= hi
        ]
        if available != list(range(lo + 1, hi + 1)):
            raise CorruptDeltaLog(
                f"commits {lo + 1}..{hi} not all present (vacuumed?); "
                "restart with startingVersion at or after the gap"
            )
        # StructType JSON round-trips WITHOUT a SparkContext — the
        # executor's Python worker has none (fromDDL needs the JVM)
        parts = list(boot_parts)
        if self._cdf:
            for v in available:
                parts.extend(self._cdf_partitions(v, schema_json))
            return parts or [_DeltaFilePartition(None, {}, "", [])]
        for v in available:
            adds, removes, _, _, _, _, _ = _read_commit_actions(
                self._table, v
            )
            # dataChange=false actions (OPTIMIZE/clustering rewrites)
            # are content-preserving: the stream must neither refuse
            # them nor re-ship their files (the Delta contract)
            adds = [a for a in adds if a.get("data_change", True)]
            removes = [r for r in removes if r.get("data_change", True)]
            if removes and not (
                self._ignore_deletes or self._ignore_changes
            ):
                raise UnsupportedDeltaFeature(
                    f"commit {v} contains remove actions (update/delete"
                    " upstream). Set ignoreDeletes to skip "
                    "delete-only commits, or ignoreChanges to also "
                    "re-ship rewritten files (downstream must dedup)."
                )
            if removes and self._ignore_deletes and not (
                self._ignore_changes
            ):
                # delete-only commits are skippable; a commit that also
                # ADDS files is a rewrite and needs ignoreChanges
                if adds:
                    raise UnsupportedDeltaFeature(
                        f"commit {v} rewrites files; ignoreDeletes only "
                        "skips delete-only commits — set ignoreChanges"
                    )
                continue
            for a in adds:
                excl = None
                if a.get("foreign_dv"):
                    # shipping the whole file would RESURRECT the
                    # DV-deleted rows.  Under ignoreChanges (the
                    # re-ship-rewrites contract) the add ships its
                    # LIVE rows via excluded row indexes — what a
                    # DV-aware Delta source emits; without the flag
                    # the remove gate above already refused, but a
                    # blind-append add carrying a DV is still
                    # unshippable as-is, so refuse it explicitly.
                    if not self._ignore_changes:
                        raise UnsupportedDeltaFeature(
                            f"commit {v} adds a deletion-vector-"
                            "bearing file; set ignoreChanges to ship "
                            "its live rows (downstream must dedup)"
                        )
                    from data_lakehouse_project_spark.operators.dv import (
                        resolve_dv_positions,
                    )

                    excl = sorted(
                        resolve_dv_positions(
                            a["foreign_dv"], self._table
                        )
                    ) or None
                p = a["path"]
                if not os.path.isabs(p):
                    p = os.path.join(self._table, p)
                parts.append(
                    _DeltaFilePartition(
                        p,
                        a.get("partition_values") or {},
                        schema_json,
                        self._part_cols,
                        phys_of=self._phys_of,
                        ids_of=self._ids_of,
                        excluded=excl,
                    )
                )
        return parts or [_DeltaFilePartition(None, {}, "", [])]

    def _cdf_partitions(self, v: int, schema_json: str):
        """One commit -> CDF partitions, per the same contract as the
        batch reader (operators/delta_cdf.py): cdc actions win;
        insert-only/delete-only commits synthesize; deletion-vector
        commits diff per-file DV state (paired remove+add of one path
        emits rows at dvNew−dvOld as deletes, dvOld−dvNew as
        re-inserts); true rewrites are refused; dataChange=false
        contributes nothing."""
        from data_lakehouse_project_spark.operators.delta_reader import (
            _commit_timestamp_ms,
        )
        from data_lakehouse_project_spark.operators.dv import (
            resolve_dv_positions,
        )

        adds, removes, info, _, _, _, cdc = _read_commit_actions(
            self._table, v
        )
        ts = (
            int(info.get("inCommitTimestamp") or info["timestamp"])
            if info
            and isinstance(
                info.get("inCommitTimestamp") or info.get("timestamp"),
                (int, float),
            )
            else _commit_timestamp_ms(self._table, v)
        )

        def _abs(p):
            return (
                p if os.path.isabs(p) else os.path.join(self._table, p)
            )

        parts = []
        if cdc:
            from urllib.parse import unquote

            for c in cdc:
                # cdc paths are URL-encoded per spec, like add/remove
                parts.append(
                    _DeltaFilePartition(
                        _abs(unquote(c["path"])),
                        c.get("partitionValues") or {},
                        schema_json,
                        self._part_cols,
                        cdf=(None, v, ts),  # file carries _change_type
                        phys_of=self._phys_of,
                        ids_of=self._ids_of,
                    )
                )
            return parts
        changed_adds = [a for a in adds if a.get("data_change", True)]
        changed_removes = [
            r for r in removes if r.get("data_change", True)
        ]
        adds_by_path = {a["path"]: a for a in changed_adds}
        removes_by_path = {r["path"]: r for r in changed_removes}
        paired = sorted(set(adds_by_path) & set(removes_by_path))
        loose_adds = [
            a for p, a in adds_by_path.items() if p not in paired
        ]
        loose_removes = [
            r for p, r in removes_by_path.items() if p not in paired
        ]
        if loose_adds and loose_removes:
            raise UnsupportedDeltaFeature(
                f"commit {v} rewrites files without cdc actions; its "
                "row-level changes cannot be reconstructed"
            )

        prior_state: dict | None = None

        def _prior(path: str) -> dict | None:
            nonlocal prior_state
            if prior_state is None:  # prior snapshot, once per commit
                prior = read_delta_snapshot(self._table, version=v - 1)
                prior_state = {f["path"]: f for f in prior.files}
            return prior_state.get(path)

        def _dv_positions(dv) -> frozenset:
            if not dv:
                return frozenset()
            return frozenset(resolve_dv_positions(dv, self._table))

        def _part(path, pv, cdf3, positions=None, excluded=None):
            p = _abs(path)
            if not os.path.exists(p):
                raise CorruptDeltaLog(
                    f"file {path} (commit {v}) no longer exists "
                    "(vacuumed) — its change rows cannot be reproduced"
                )
            return _DeltaFilePartition(
                p,
                pv or {},
                schema_json,
                self._part_cols,
                cdf=cdf3,
                phys_of=self._phys_of,
                ids_of=self._ids_of,
                positions=positions,
                excluded=excluded,
            )

        for path in paired:
            # same path removed+re-added: the modern DV-delete commit
            a, r = adds_by_path[path], removes_by_path[path]
            old_dv = r.get("foreign_dv") or (
                (_prior(path) or {}).get("foreign_dv")
            )
            new_dv = a.get("foreign_dv")
            if not old_dv and not new_dv:
                raise UnsupportedDeltaFeature(
                    f"commit {v} re-adds {path} without deletion "
                    "vectors on either side; the row-level delta of a "
                    "same-path overwrite is unknowable"
                )
            old_pos = _dv_positions(old_dv)
            new_pos = _dv_positions(new_dv)
            pv = a.get("partition_values") or {}
            newly_deleted = sorted(new_pos - old_pos)
            restored = sorted(old_pos - new_pos)
            if newly_deleted:
                parts.append(
                    _part(path, pv, ("delete", v, ts),
                          positions=newly_deleted)
                )
            if restored:
                parts.append(
                    _part(path, pv, ("insert", v, ts),
                          positions=restored)
                )
        for a in loose_adds:
            excl = sorted(_dv_positions(a.get("foreign_dv"))) or None
            parts.append(
                _part(
                    a["path"],
                    a.get("partition_values") or {},
                    ("insert", v, ts),
                    excluded=excl,
                )
            )
        for r in loose_removes:
            pv = r.get("partition_values")
            if pv is None and self._part_cols:
                pv = ((_prior(r["path"]) or {}).get("partition_values"))
                if pv is None:
                    raise CorruptDeltaLog(
                        f"remove of {r['path']} at commit {v} carries "
                        "no partition values and the file is not in "
                        "the prior snapshot"
                    )
            # a removed file with a DV had SOME rows already deleted —
            # only its live rows leave the table now
            old_dv = r.get("foreign_dv") or (
                (_prior(r["path"]) or {}).get("foreign_dv")
            )
            excl = sorted(_dv_positions(old_dv)) or None
            parts.append(
                _part(r["path"], pv or {}, ("delete", v, ts),
                      excluded=excl)
            )
        return parts

    def read(self, partition: _DeltaFilePartition):
        if partition.path is None:
            return iter(())
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType as _ST

        schema = _ST.fromJson(json.loads(partition.schema_json))
        target = pa.schema(
            [
                pa.field(f.name, _arrow_type(f.dataType))
                for f in schema.fields
            ]
        )
        table = pq.read_table(partition.path)
        if partition.positions is not None:
            table = table.take(pa.array(partition.positions, pa.int64()))
        elif partition.excluded is not None:
            import numpy as np

            keep = np.ones(table.num_rows, dtype=bool)
            keep[np.asarray(partition.excluded, dtype=np.int64)] = False
            table = table.filter(pa.array(keep))
        n = table.num_rows
        cdf_const = {}
        if partition.cdf is not None:
            ctype, cver, cts = partition.cdf
            cdf_const["_commit_version"] = pa.array([cver] * n, pa.int64())
            cdf_const["_commit_timestamp"] = pa.array(
                [cts] * n, pa.int64()
            )
            if ctype is not None:  # synthesized; cdc files carry their own
                cdf_const["_change_type"] = pa.array(
                    [ctype] * n, pa.string()
                )
        # column-mapping resolution (executor-side, mirrors the batch
        # reader's contracts): "name" mode looks physical names up;
        # "id" mode matches parquet field ids and REFUSES an id-less
        # file rather than nulling it out
        by_id = {}
        if partition.ids_of is not None:
            for af in table.schema:
                fid = (af.metadata or {}).get(b"PARQUET:field_id")
                if fid is not None:
                    by_id[int(fid)] = af.name
            if not by_id:
                raise UnsupportedDeltaFeature(
                    f"column mapping 'id' but {partition.path} carries "
                    "no parquet field ids"
                )

        def _file_col(logical: str) -> str | None:
            if partition.ids_of is not None:
                return by_id.get(partition.ids_of.get(logical))
            if partition.phys_of is not None:
                phys = partition.phys_of.get(logical, logical)
                return phys if phys in table.column_names else None
            return logical if logical in table.column_names else None

        def _part_key(logical: str) -> str:
            # partitionValues key by PHYSICAL name under column mapping
            if partition.phys_of is not None:
                return partition.phys_of.get(logical, logical)
            return logical

        cols = []
        for f in target:
            if f.name in cdf_const:
                cols.append(cdf_const[f.name])
                continue
            if f.name in partition.part_cols:
                raw = partition.partition_values.get(_part_key(f.name))
                arr = pa.array([raw] * n, pa.string()).cast(f.type)
            else:
                src = _file_col(f.name)
                if src is not None:
                    arr = table.column(src).cast(f.type)
                else:  # pre-evolution file: new column surfaces null
                    arr = pa.nulls(n, f.type)
            cols.append(arr)
        out = pa.table(cols, schema=target)
        return iter(out.to_batches(max_chunksize=1 << 16))

    def commit(self, end: dict) -> None:
        pass  # the log itself is durable; nothing to acknowledge


def _arrow_type(dt):
    import pyarrow as pa
    from pyspark.sql import types as T

    mapping = {
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.ShortType: pa.int16(),
        T.ByteType: pa.int8(),
        T.DoubleType: pa.float64(),
        T.FloatType: pa.float32(),
        T.StringType: pa.string(),
        T.BooleanType: pa.bool_(),
        T.DateType: pa.date32(),
        T.BinaryType: pa.binary(),
        T.TimestampType: pa.timestamp("us", tz="UTC"),
        T.TimestampNTZType: pa.timestamp("us"),
    }
    if type(dt) in mapping:
        return mapping[type(dt)]
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    raise UnsupportedDeltaFeature(
        f"delta_stream: unsupported column type {dt.simpleString()}"
    )
