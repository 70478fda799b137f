"""Change Data Feed over a Delta transaction log.

``read_delta_changes(spark, table, starting_version, ending_version)``
returns every row-level change in the version range with the CDF
contract's metadata columns ``_change_type`` / ``_commit_version`` /
``_commit_timestamp`` — the batch half of delta-spark's
``table_changes``.  Sources, per the published Delta CDF semantics:

* Commits carrying ``cdc`` actions: the change rows come ONLY from the
  referenced ``_change_data`` parquet (which stores its own
  ``_change_type`` column, including ``update_preimage`` /
  ``update_postimage``); add/remove actions in the same commit are
  bookkeeping and contribute nothing.
* Commits without ``cdc``: synthesized exactly as Delta does for
  insert-only/delete-only commits — ``add(dataChange=true)`` rows are
  ``insert``, ``remove(dataChange=true)`` rows are ``delete`` (the
  removed file's bytes must still exist; a vacuumed file is a hard
  error, not an empty result).  A commit that REWRITES files
  (add+remove of DIFFERENT paths together, e.g. an update without CDC
  enabled) is refused: synthesizing it as delete+insert would mislabel
  unchanged rows as churn — delta-spark refuses these too.
* **Deletion-vector commits are reconstructed by diffing per-file DV
  state** (modern delta-spark deletes via DVs by default): a paired
  ``remove(path, dvOld)`` + ``add(path, dvNew)`` of one path emits the
  file's rows at positions ``dvNew − dvOld`` as ``delete`` (and the
  rare ``dvOld − dvNew`` reverse set as re-``insert``, the RESTORE
  shape).  The previous DV, when the remove omits its descriptor,
  comes from the running snapshot state.  An unpaired remove of a
  DV-bearing file emits only its LIVE rows (all minus the old DV) as
  ``delete``; an unpaired add carrying a DV inserts only its live
  rows.  A paired add+remove of one path with NO DV on either side is
  a same-path overwrite — unknowable delta, refused like any rewrite.
* ``dataChange=false`` actions (compaction/optimize) contribute
  nothing, per the contract.

Partition values for removes, which the log may omit, are recovered
from the RUNNING snapshot state (the removed file's original add
action) — one snapshot reconstruction at ``starting_version - 1``
plus an O(actions) walk, the same bookkeeping Delta's CDF reader does.

Scale posture: the driver touches only log actions; change rows flow
through ordinary parquet scans with per-file metadata attached via
broadcast maps keyed on the decoded ``_metadata.file_path``.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

from .delta_reader import (
    CorruptDeltaLog,
    UnsupportedDeltaFeature,
    _commit_timestamp_ms,
    _commit_versions,
    _map_schema_json,
    _physical_names,
    _read_commit_actions,
    _spark_path_key,
    read_delta_snapshot,
)
from .txnlog import _schema_from_json

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"
COMMIT_TS = "_commit_timestamp"


def read_delta_changes(
    spark: SparkSession,
    table_path: str,
    starting_version: int = 0,
    ending_version: int | None = None,
    starting_timestamp_ms: int | None = None,
    ending_timestamp_ms: int | None = None,
) -> DataFrame:
    """All row-level changes in commits
    ``starting_version..ending_version`` (inclusive; default latest).

    Timestamp bounds mirror delta-spark's ``startingTimestamp`` /
    ``endingTimestamp``: the start resolves to the FIRST commit at or
    after the timestamp, the end to the LAST commit at or before it
    (per-commit clocks follow the spec's ordering —
    ``inCommitTimestamp`` > ``commitInfo.timestamp`` > file mtime).
    A timestamp bound overrides the corresponding version bound.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    versions = _commit_versions(table_path)
    if not versions:
        raise CorruptDeltaLog(f"no _delta_log commits at {table_path}")
    if starting_timestamp_ms is not None:
        after = [
            v
            for v in versions
            if _commit_timestamp_ms(table_path, v) >= starting_timestamp_ms
        ]
        if not after:
            raise ValueError(
                f"no commit at or after startingTimestamp "
                f"{starting_timestamp_ms}"
            )
        starting_version = after[0]
    if ending_timestamp_ms is not None:
        before = [
            v
            for v in versions
            if _commit_timestamp_ms(table_path, v) <= ending_timestamp_ms
        ]
        if not before:
            raise ValueError(
                f"no commit at or before endingTimestamp "
                f"{ending_timestamp_ms}"
            )
        ending_version = before[-1]
    end = versions[-1] if ending_version is None else ending_version
    wanted = list(range(starting_version, end + 1))
    have = [v for v in versions if starting_version <= v <= end]
    if have != wanted:
        raise CorruptDeltaLog(
            f"commits {starting_version}..{end} not all present "
            "(vacuumed?)"
        )

    # table shape at the END of the range (CDF reads one schema).
    # Under column mapping, data/cdc files and the log's
    # partitionValues/stats keys all use PHYSICAL names; the feed's
    # output restores logical names at the end (same contracts as
    # read_delta_table).
    snap = read_delta_snapshot(table_path, version=end)
    mapping_mode = snap.configuration.get(
        "delta.columnMapping.mode", "none"
    )
    schema = _schema_from_json(spark, snap.schema_json)
    part_cols = [c for c in snap.partition_columns if c in schema.names]
    phys_of = {f.name: f.name for f in schema.fields}
    if mapping_mode in ("name", "id"):
        phys_of = _physical_names(snap.schema_json)
        mapped = StructType.fromJson(
            _map_schema_json(snap.schema_json, mapping_mode)
        )
        if mapping_mode == "id":
            spark.conf.set(
                "spark.sql.parquet.fieldId.read.enabled", "true"
            )
        physical = StructType(
            [
                mf
                for lf, mf in zip(schema.fields, mapped.fields)
                if lf.name not in part_cols
            ]
        )
    elif mapping_mode in ("none", ""):
        physical = StructType(
            [f for f in schema.fields if f.name not in part_cols]
        )
    else:
        raise UnsupportedDeltaFeature(
            f"column mapping mode '{mapping_mode}' is not supported"
        )
    out_schema = StructType(
        list(schema.fields)
        + [
            StructField(CHANGE_TYPE, StringType()),
            StructField(COMMIT_VERSION, LongType()),
            StructField(COMMIT_TS, LongType()),
        ]
    )

    # running file state for remove partition-value recovery
    state: dict[str, dict] = {}
    if starting_version > 0:
        prior = read_delta_snapshot(
            table_path, version=starting_version - 1
        )
        state = {f["path"]: f for f in prior.files}

    def _abs(p: str) -> str:
        for pref in ("file://", "file:"):
            if p.startswith(pref):
                p = p[len(pref):]
        return p if os.path.isabs(p) else os.path.join(table_path, p)

    # (abs_path, version, ts, partition_values) per source kind;
    # ins/del specs carry a 5th slot: row positions to EXCLUDE
    # (DV-bearing file shipped whole minus its deleted rows), or None.
    # pos_specs carry (path, v, ts, pv, label, positions-to-EMIT) for
    # the DV-diff branches.
    cdc_specs: list[tuple] = []
    ins_specs: list[tuple] = []
    del_specs: list[tuple] = []
    pos_specs: list[tuple] = []

    def _dv_positions(dv: dict | None) -> frozenset:
        from .dv import resolve_dv_positions

        if not dv:
            return frozenset()
        return frozenset(resolve_dv_positions(dv, table_path))

    for v in wanted:
        adds, removes, info, _, _, _, cdc = _read_commit_actions(
            table_path, v
        )
        ts = (
            int(info.get("inCommitTimestamp") or info["timestamp"])
            if info
            and isinstance(
                info.get("inCommitTimestamp") or info.get("timestamp"),
                (int, float),
            )
            else _commit_timestamp_ms(table_path, v)
        )
        def _existing(p: str, what: str) -> str:
            ap = _abs(p)
            if not os.path.exists(ap):
                raise CorruptDeltaLog(
                    f"{what} {p} (commit {v}) no longer exists "
                    "(vacuumed) — its change rows cannot be reproduced"
                )
            return ap

        if cdc:
            for c in cdc:
                # cdc paths are URL-encoded like add/remove paths (the
                # spec's path rule) — decode before resolving
                cdc_specs.append(
                    (
                        _existing(unquote(c["path"]), "cdc file"),
                        v,
                        ts,
                        c.get("partitionValues") or {},
                    )
                )
        else:
            changed_adds = [
                a for a in adds if a.get("data_change", True)
            ]
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
                    f"commit {v} rewrites files without cdc actions; "
                    "its row-level changes cannot be reconstructed "
                    "(synthesizing delete+insert would mislabel "
                    "unchanged rows)"
                )

            def _remove_pv(r: dict) -> dict:
                pv = r.get("partition_values")
                if pv is None:
                    pv = (state.get(r["path"]) or {}).get(
                        "partition_values"
                    )
                if pv is None and part_cols:
                    raise CorruptDeltaLog(
                        f"remove of {r['path']} at commit {v} carries "
                        "no partition values and the file is not in "
                        "the prior snapshot"
                    )
                return pv or {}

            for p in paired:
                # same path removed+re-added: the modern DV-delete
                # commit shape — diff the per-file DV state
                a, r = adds_by_path[p], removes_by_path[p]
                old_dv = r.get("foreign_dv") or (
                    state.get(p) or {}
                ).get("foreign_dv")
                new_dv = a.get("foreign_dv")
                if not old_dv and not new_dv:
                    raise UnsupportedDeltaFeature(
                        f"commit {v} re-adds {p} without deletion "
                        "vectors on either side; the row-level delta "
                        "of a same-path overwrite is unknowable"
                    )
                old_pos = _dv_positions(old_dv)
                new_pos = _dv_positions(new_dv)
                ap = _existing(p, "DV-updated file")
                pv = a.get("partition_values") or _remove_pv(r)
                newly_deleted = sorted(new_pos - old_pos)
                restored = sorted(old_pos - new_pos)
                if newly_deleted:
                    pos_specs.append(
                        (ap, v, ts, pv, "delete", newly_deleted)
                    )
                if restored:
                    pos_specs.append(
                        (ap, v, ts, pv, "insert", restored)
                    )
            for a in loose_adds:
                excl = sorted(_dv_positions(a.get("foreign_dv"))) or None
                ins_specs.append(
                    (
                        _existing(a["path"], "added file"),
                        v,
                        ts,
                        a.get("partition_values") or {},
                        excl,
                    )
                )
            for r in loose_removes:
                # a removed file with a DV had SOME rows already
                # deleted — only its LIVE rows leave the table now
                old_dv = r.get("foreign_dv") or (
                    state.get(r["path"]) or {}
                ).get("foreign_dv")
                excl = sorted(_dv_positions(old_dv)) or None
                del_specs.append(
                    (
                        _existing(r["path"], "removed file"),
                        v,
                        ts,
                        _remove_pv(r),
                        excl,
                    )
                )
        # advance running state AFTER using it for this commit's removes
        for r in removes:
            state.pop(r["path"], None)
        for a in adds:
            state[a["path"]] = a

    if not (cdc_specs or ins_specs or del_specs or pos_specs):
        return spark.createDataFrame([], out_schema)

    def _attach(df: DataFrame, specs: list[tuple]) -> DataFrame:
        """Join per-file (version, ts, partition values) over the
        decoded file path — one broadcast row per file."""
        rows = [
            tuple(
                [os.path.abspath(p), int(v), int(ts)]
                # partitionValues key by PHYSICAL name under mapping
                + [(pv or {}).get(phys_of[c]) for c in part_cols]
            )
            for p, v, ts, pv in specs
        ]
        fmap = spark.createDataFrame(
            rows,
            ["__cdf_path", COMMIT_VERSION, COMMIT_TS]
            + [f"__pv_{c}" for c in part_cols],
        )
        if "__cdf_path" not in df.columns:  # the arrow branch
            # materializes the path itself; the JVM scan decodes
            # _metadata.file_path
            df = df.withColumn("__cdf_path", _spark_path_key())
        df = df.join(F.broadcast(fmap), "__cdf_path", "left")
        for c in part_cols:
            df = df.withColumn(
                c, F.col(f"__pv_{c}").cast(schema[c].dataType)
            )
        return df

    def _stamp(d: DataFrame, v, ts, pv, label: str | None) -> DataFrame:
        if label is not None:
            d = d.withColumn(CHANGE_TYPE, F.lit(label))
        d = d.withColumn(
            COMMIT_VERSION, F.lit(int(v)).cast(LongType())
        ).withColumn(COMMIT_TS, F.lit(int(ts)).cast(LongType()))
        for c in part_cols:
            d = d.withColumn(
                c,
                F.lit((pv or {}).get(phys_of[c])).cast(
                    schema[c].dataType
                ),
            )
        return d

    def _branch(specs: list[tuple], read_schema, label: str | None):
        """One change-source branch.  Fast path: a single multi-file
        scan + broadcast metadata join.  Two cases scan per-spec and
        stamp metadata as literals instead: (a) the SAME data file is
        referenced by two specs (remove-then-re-add of one path across
        in-range commits) — the broadcast join would attribute every
        physical row to BOTH commits at once; (b) a spec carries
        excluded positions (DV-bearing file shipped minus its already-
        deleted rows), which needs a per-file ``row_index`` anti-join.
        """
        plain = [s[:4] for s in specs if len(s) < 5 or s[4] is None]
        masked = [s for s in specs if len(s) >= 5 and s[4]]
        outs: list[DataFrame] = []
        paths = [p for p, *_ in plain]
        if len(set(paths)) == len(paths):
            if plain:
                from data_lakehouse_project_spark.sources.arrow_scan import (
                    arrow_scan_threshold,
                    register_arrow_scan,
                    write_scan_plan,
                )

                if (
                    len(paths) >= arrow_scan_threshold()
                    and mapping_mode in ("none", "", None)
                ):
                    # high-file-count fast path: skip the O(files)
                    # driver file index (same shape as the snapshot
                    # readers); name resolution matches because
                    # read_schema IS the files' physical shape here
                    register_arrow_scan(spark)
                    plan = write_scan_plan(
                        json.loads(read_schema.json()),
                        {},
                        [{"path": os.path.abspath(p)} for p in paths],
                        emit_meta=True,
                    )
                    df = (
                        spark.read.format("graft_arrow_scan")
                        .option("plan", plan)
                        .load()
                        .withColumnRenamed("__ice_path", "__cdf_path")
                        .drop("__ice_pos")
                    )
                else:
                    df = spark.read.schema(read_schema).parquet(*paths)
                if label is not None:
                    df = df.withColumn(CHANGE_TYPE, F.lit(label))
                outs.append(_attach(df, plain))
        else:
            for p, v, ts, pv in plain:
                outs.append(
                    _stamp(
                        spark.read.schema(read_schema).parquet(p),
                        v, ts, pv, label,
                    )
                )
        for p, v, ts, pv, excluded in masked:
            d = spark.read.schema(read_schema).parquet(p).withColumn(
                "__pos", F.col("_metadata.row_index")
            )
            mask = spark.createDataFrame(
                [(int(x),) for x in excluded], "__pos: long"
            )
            d = d.join(F.broadcast(mask), "__pos", "left_anti").drop(
                "__pos"
            )
            outs.append(_stamp(d, v, ts, pv, label))
        out = outs[0]
        for d in outs[1:]:
            out = out.unionByName(d)
        return out

    branches: list[DataFrame] = []
    if cdc_specs:
        cdc_schema = StructType(
            list(physical.fields) + [StructField(CHANGE_TYPE, StringType())]
        )
        branches.append(_branch(cdc_specs, cdc_schema, None))
    for specs, label in ((ins_specs, "insert"), (del_specs, "delete")):
        if specs:
            branches.append(_branch(specs, physical, label))

    if pos_specs:
        # DV-diff rows: scan each referenced file ONCE, then inner-join
        # (file, row_index) against the exact changed-position set —
        # built arrow-side as ints (never Python tuples), broadcast
        # below the same bytes gate the snapshot reader uses.  A path
        # may appear under several commits; the join attributes each
        # (row, commit, change_type) exactly once per positions entry.
        import numpy as np
        import pandas as pd

        upaths = sorted({p for p, *_ in pos_specs})
        fid = {p: i for i, p in enumerate(upaths)}
        pv_of = {p: next(s[3] for s in pos_specs if s[0] == p)
                 for p in upaths}
        scan = spark.read.schema(physical).parquet(*upaths).withColumns(
            {
                "__cdf_path": _spark_path_key(),
                "__pos": F.col("_metadata.row_index"),
            }
        )
        sid_chunks, fid_chunks, pos_chunks, meta_rows = [], [], [], []
        for i, (p, v, ts, pv, label, positions) in enumerate(pos_specs):
            n = len(positions)
            sid_chunks.append(np.full(n, i, dtype=np.int32))
            fid_chunks.append(np.full(n, fid[p], dtype=np.int32))
            pos_chunks.append(np.asarray(positions, dtype=np.int64))
            meta_rows.append((i, int(v), int(ts), label))
        sids = np.concatenate(sid_chunks)
        fids = np.concatenate(fid_chunks)
        poss = np.concatenate(pos_chunks)
        posdf = spark.createDataFrame(
            pd.DataFrame(
                {"__cdf_fid": fids, "__pos": poss, "__cdf_sid": sids}
            )
        )
        if sids.nbytes + fids.nbytes + poss.nbytes <= 64 << 20:
            posdf = F.broadcast(posdf)
        smeta = F.broadcast(
            spark.createDataFrame(
                meta_rows,
                ["__cdf_sid", COMMIT_VERSION, COMMIT_TS, CHANGE_TYPE],
            )
        )
        fmap = F.broadcast(
            spark.createDataFrame(
                [
                    tuple(
                        [os.path.abspath(p), fid[p]]
                        + [
                            (pv_of[p] or {}).get(phys_of[c])
                            for c in part_cols
                        ]
                    )
                    for p in upaths
                ],
                ["__cdf_path", "__cdf_fid"]
                + [f"__pv_{c}" for c in part_cols],
            )
        )
        dvdf = (
            scan.join(fmap, "__cdf_path")
            .join(posdf, ["__cdf_fid", "__pos"])
            .join(smeta, "__cdf_sid")
            .drop("__cdf_sid", "__cdf_fid", "__cdf_path", "__pos")
        )
        for c in part_cols:
            dvdf = dvdf.withColumn(
                c, F.col(f"__pv_{c}").cast(schema[c].dataType)
            )
        branches.append(dvdf)

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    if mapping_mode == "name":
        # data columns carry PHYSICAL names in every branch (partition
        # columns were attached logically); restore logical names via
        # positional struct casts, same as read_delta_table
        return out.select(
            *[
                (
                    F.col(c)
                    if c in part_cols
                    else F.col(f"`{phys_of[c]}`")
                    .cast(schema[c].dataType)
                    .alias(c)
                )
                for c in schema.names
            ],
            CHANGE_TYPE, COMMIT_VERSION, COMMIT_TS,
        )
    return out.select(
        *schema.names, CHANGE_TYPE, COMMIT_VERSION, COMMIT_TS
    )
