"""Change-data-feed STREAM SOURCE for the versioned table (round 12,
VERDICT r11 #3).

`read_changes` (etl/versioned.py) computes the row-level diff between
two snapshots as a BATCH; the production pattern is `readStream` over
the change feed into a downstream MERGE (the sink half already exists
as `stream_versioned_upsert`). This module supplies the source half on
the Spark 4 Python DataSource STREAMING API:

    spark.readStream.format("versioned_cdf")
         .option("path", root)
         .option("keycols", "k")
         .option("tableschema", "k long, band long, val long")
         .option("partitioncols", "band")
         .option("startingversion", "1")
         .load()

Offsets ARE table versions — the natural exactly-once cursor: a
microbatch covers the commits in (start.version, end.version], and
replaying the same offset range is deterministic because manifests are
immutable. The work split is the scale story:

- `latestOffset`/`partitions` run DRIVER-side and touch ONLY manifests:
  one directory listing per call plus one read per manifest involved —
  metadata, never data. Each commit is diffed against the commit before
  it by `versioned._changed_partitions`, the planner `read_changes`
  uses too: a partition changed when its owning version dir or its
  gating deletion-vector set changed. Only those produce input
  partitions, so a commit that touched 2 of a million partitions
  schedules 2 tasks.
- `read(partition)` runs on EXECUTORS: each task pyarrow-reads one
  partition's pre-image (old files minus the old gating DV keys) and
  post-image (new files minus the new gating DV keys) and diffs them
  into insert/update_postimage/delete rows — the diff is
  partition-parallel, nothing table-sized ever sits in one place.
  Upserts, DV deletes, compactions, branch merges and restores are all
  the same diff: a restore that drops a DV re-emits its keys as
  inserts, exactly as `read_changes` does.

Driver-side manifest access here is plain `os`/`json` (the streaming
DataSource API gives the source no SparkSession); on an object store
these helpers would use the store's SDK listing, with identical
semantics. Emitted schema = table schema + `_change_type` string +
`_commit_version` long, matching `read_changes` plus the version
column. The table schema is passed via `tableschema` (a catalog would
supply it); partition values are parsed from directory names as
integers for integral columns and as strings otherwise.
"""

from __future__ import annotations

import json
import os
import threading
import weakref
from urllib.parse import unquote

from us_stock_data_pipeline_spark.etl.vcatalog import _split_top_level
from us_stock_data_pipeline_spark.etl.versioned import (
    _changed_partitions,
    _gating_dvs,
    _manifest_name,
    _manifest_version,
    _parse_partition_values,
)

# --------------------------------------------------------------------------
# driver-side manifest helpers (no SparkSession in the DataSource API)
# --------------------------------------------------------------------------


def _committed_versions(root: str) -> list[int]:
    d = os.path.join(root, "manifests")
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return []
    return sorted(v for n in names if (v := _manifest_version(n)) is not None)


def _doc(root: str, version: int) -> dict:
    with open(os.path.join(root, "manifests", _manifest_name(version))) as f:
        return json.load(f)


def _parquet_files(base: str) -> list[str]:
    try:
        return sorted(
            os.path.join(base, n)
            for n in os.listdir(base)
            if n.endswith(".parquet")
        )
    except FileNotFoundError:
        return []


def _image(root: str, doc: dict, part_dir: str) -> tuple[list[str], list[str]]:
    """(data files, DV key files) of `part_dir` in the snapshot `doc`
    describes: its rows are the data files' rows minus the DV keys."""
    owner = doc.get("partitions", {}).get(part_dir)
    if owner is None:
        return [], []
    return (
        _parquet_files(os.path.join(root, owner, part_dir)),
        [
            f
            for dv in _gating_dvs(doc, owner)
            for f in _parquet_files(os.path.join(root, dv["dir"]))
        ],
    )


def _ordered_columns(ddl: str, key_cols: list[str]) -> list[str]:
    """The `tableschema` DDL's column definitions, key columns first
    (each group in DDL order). Split at top-level commas only, so a
    `decimal(10,2)` type stays one definition."""
    cols = [c.strip() for c in _split_top_level(ddl)]
    return sorted(cols, key=lambda c: c.split()[0] not in key_cols)


def make_cdf_datasource():
    """Build the DataSource class (imported lazily so environments
    without the Spark 4 Python DataSource API fail at call time with a
    clear error, not at module import)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )
    from pyspark.sql.types import IntegralType

    class _CdfPartition(InputPartition):
        def __init__(self, spec: dict):
            self.spec = spec

    class VersionedCdfStreamReader(DataSourceStreamReader):
        def __init__(self, options, schema):
            self.root = options["path"]
            # `schema` is schema()'s output as Spark parsed it: key
            # columns, value columns, then _change_type/_commit_version.
            key_cols = {c.strip() for c in options["keycols"].split(",")}
            fields = schema.fields[:-2]
            self.keys = [f.name for f in fields if f.name in key_cols]
            self.val_cols = [f.name for f in fields if f.name not in key_cols]
            self.integral = {
                f.name for f in fields if isinstance(f.dataType, IntegralType)
            }
            self.starting = int(options.get("startingversion", "0"))
            # Delta's maxFilesPerTrigger analog: cap how many COMMITS one
            # microbatch may span, so a consumer catching up on a long
            # backlog paces itself (bounded state per batch) instead of
            # swallowing the whole history in one trigger. 0 = unbounded.
            self.max_versions = int(options.get("maxversionspertrigger", "0"))
            # pacing cursor: the last end offset THIS reader handed out.
            # Advanced in latestOffset itself (the simple stream API does
            # not guarantee a commit() callback between triggers); on a
            # checkpoint restart it resets to startingversion, which is
            # safe — partitions() clamps to the (start, end] the engine
            # actually asks for, so a low cursor only means the first
            # few latestOffset answers are no-ops.
            self._cursor = self.starting

        # -- offsets ----------------------------------------------------
        def initialOffset(self) -> dict:
            return {"version": self.starting}

        def latestOffset(self) -> dict:
            vs = [v for v in _committed_versions(self.root) if v > self._cursor]
            if not vs:
                return {"version": self._cursor}
            if self.max_versions > 0:
                vs = vs[: self.max_versions]
            self._cursor = vs[-1]
            return {"version": self._cursor}

        # -- planning (driver, metadata-only) ---------------------------
        def partitions(self, start: dict, end: dict):
            """One task per partition that each commit in (start, end]
            changed relative to the commit before it (an empty manifest
            before the first commit)."""
            lo, hi = int(start["version"]), int(end["version"])
            committed = _committed_versions(self.root)
            todo = [v for v in committed if lo < v <= hi]
            earlier = [v for v in committed if todo and v < todo[0]]
            prev = _doc(self.root, earlier[-1]) if earlier else {}
            specs = []
            for v in todo:
                cur = _doc(self.root, v)
                for d in _changed_partitions(prev, cur):
                    specs.append(
                        {
                            "commit_version": v,
                            "part_dir": d,
                            "old": _image(self.root, prev, d),
                            "new": _image(self.root, cur, d),
                        }
                    )
                prev = cur
            return [_CdfPartition(s) for s in specs]

        # -- execution (executor, one partition's diff) ------------------
        def read(self, partition):
            import numpy as np
            import pandas as pd
            import pyarrow.parquet as pq

            def _py(x, col=None):
                """numpy scalar / NaN / NaT -> plain Python for the row
                tuple. An outer merge upcasts int columns with absent
                rows to float64, so integer-declared columns are cast
                back. Parquet timestamps are UTC instants that pyarrow
                hands over tz-naive: they leave as UTC datetimes."""
                if x is None or x is pd.NaT:
                    return None
                if isinstance(x, (float, np.floating)) and np.isnan(x):
                    return None
                if isinstance(x, pd.Timestamp):
                    return (x if x.tzinfo else x.tz_localize("UTC")).to_pydatetime()
                if isinstance(x, np.generic):
                    x = x.item()
                if col in self.integral:
                    return int(x)
                return x

            spec = partition.spec
            keys, val_cols = self.keys, self.val_cols
            col_names = keys + val_cols
            part_cols = {
                c: unquote(v)
                for c, v in _parse_partition_values(spec["part_dir"]).items()
            }

            def _image_rows(files: list[str], dv_files: list[str]) -> pd.DataFrame:
                """The partition's rows: its files minus the DV keys."""
                if not files:
                    return pd.DataFrame(columns=col_names)
                df = pd.concat(
                    [pq.read_table(f).to_pandas() for f in files], ignore_index=True
                )
                for c, sval in part_cols.items():
                    df[c] = int(sval) if c in self.integral else sval
                # a column added after these files were written reads as null
                df = df.reindex(columns=col_names)
                if not dv_files or df.empty:
                    return df
                dvk = pd.concat(
                    [pq.read_table(f).to_pandas() for f in dv_files],
                    ignore_index=True,
                )
                mask = df.merge(
                    dvk.drop_duplicates(),
                    on=list(dvk.columns),
                    how="left",
                    indicator=True,
                )["_merge"].eq("both")
                return df[~mask.values]

            m = _image_rows(*spec["old"]).merge(
                _image_rows(*spec["new"]),
                on=keys,
                how="outer",
                suffixes=("_o", "_n"),
                indicator="mrg",
            )
            rows: list[tuple] = []
            for d in m.to_dict("records"):
                if d["mrg"] == "right_only":
                    ct = "insert"
                elif d["mrg"] == "left_only":
                    ct = "delete"
                else:
                    changed = any(
                        not (
                            (pd.isna(d[f"{c}_o"]) and pd.isna(d[f"{c}_n"]))
                            or d[f"{c}_o"] == d[f"{c}_n"]
                        )
                        for c in val_cols
                    )
                    if not changed:
                        continue
                    ct = "update_postimage"
                vals = tuple(
                    None if ct == "delete" else _py(d[f"{c}_n"], c)
                    for c in val_cols
                )
                rows.append(
                    tuple(_py(d[k], k) for k in keys)
                    + vals
                    + (ct, spec["commit_version"])
                )
            return iter(rows)

        def commit(self, end: dict) -> None:
            self._cursor = max(self._cursor, int(end["version"]))

    class VersionedCdfDataSource(DataSource):
        @classmethod
        def name(cls):
            return "versioned_cdf"

        def schema(self):
            keys = [c.strip() for c in self.options["keycols"].split(",")]
            cols = _ordered_columns(self.options["tableschema"], keys)
            return ", ".join(cols) + ", _change_type string, _commit_version long"

        def streamReader(self, schema):
            return VersionedCdfStreamReader(self.options, schema)

    return VersionedCdfDataSource


_REGISTER_LOCK = threading.Lock()
_REGISTERED: weakref.WeakSet = weakref.WeakSet()


def register_cdf_source(spark) -> None:
    """Idempotently register the `versioned_cdf` streaming format: once
    per SparkSession, under a lock. Spark checks for an existing source
    and then registers it in two steps, so two threads registering the
    same name at once can fail with DATA_SOURCE_ALREADY_EXISTS."""
    with _REGISTER_LOCK:
        if spark not in _REGISTERED:
            spark.dataSource.register(make_cdf_datasource())
            _REGISTERED.add(spark)
