"""Snapshot catalog: Iceberg-semantics table IO over parquet.

The north rule requires Iceberg tables with snapshot-checkpoint resume.
There is no iceberg-spark-runtime jar to run against (SURVEY.md §7.3),
so `SnapshotCatalog` emulates the snapshot model with parquet + atomic
JSON manifests: every write lands in an immutable
`data/snapshot=<id>/` directory, a manifest records row count, schema
and lineage, and `_current.json` is flipped with os.replace (atomic on
POSIX) — giving Iceberg-like snapshot isolation, time travel by
snapshot id, and idempotent resume.

Resume contract (mirrors the reference benchmark's --resume,
benchmark/evaluate.py:898-965): a pipeline stage keyed by
(run_id, stage) is SKIPPED when its snapshot already exists and is
committed; re-running a half-written stage is safe because manifests
commit after data."""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, types as T

# Spark names every file a write task produces
# `part-<partition id>-<job uuid>-c<file no>[.<codec>].parquet`.
_PART_FILE = re.compile(r"part-(\d+)-")


def _footer_partitions(data_dir: Path) -> list[dict]:
    """[{partition_id, rows}] of a written parquet directory, sorted by
    partition id, read from the part files' footers only. The files of
    one write task (`c000`, `c001`, … under maxRecordsPerFile) sum into
    one partition; zero-row files are skipped — Spark writes no file
    for an empty partition, except one schema-carrying empty file when
    every partition is empty."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for f in data_dir.glob("part-*.parquet"):
        n = pq.read_metadata(f).num_rows
        if n:
            pid = int(_PART_FILE.match(f.name).group(1))
            rows[pid] = rows.get(pid, 0) + n
    return [{"partition_id": pid, "rows": rows[pid]} for pid in sorted(rows)]


class SnapshotCatalog:
    def __init__(self, root: str | Path) -> None:
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # ---- paths -----------------------------------------------------
    def _table_dir(self, table: str) -> Path:
        return self.root / table

    def _data_dir(self, table: str, snapshot_id: str) -> Path:
        return self._table_dir(table) / "data" / f"snapshot={snapshot_id}"

    def _manifest_path(self, table: str, snapshot_id: str) -> Path:
        return self._table_dir(table) / "manifests" / f"{snapshot_id}.json"

    def _current_path(self, table: str) -> Path:
        return self._table_dir(table) / "_current.json"

    # ---- write / commit ---------------------------------------------
    def write_snapshot(
        self,
        df: DataFrame,
        table: str,
        snapshot_id: str,
        lineage: dict | None = None,
    ) -> dict:
        """Write df as a new immutable snapshot and atomically commit it
        as current. Returns the manifest.

        The write is the only job that runs df's plan. `rows` and
        `lineage["partitions"]` ([{partition_id, rows}], the write
        tasks' partition ids and row counts, empty partitions omitted)
        come from the footers of the files it wrote; the caller's
        lineage keys are recorded next to them. Writing an existing
        snapshot id replaces its data, so a half-written stage reruns
        cleanly."""
        data_dir = self._data_dir(table, snapshot_id)
        df.write.mode("overwrite").parquet(str(data_dir))
        partitions = _footer_partitions(data_dir)
        manifest = {
            "table": table,
            "snapshot_id": snapshot_id,
            "rows": sum(p["rows"] for p in partitions),
            "schema": df.schema.jsonValue(),
            "committed_at": time.time(),
            "lineage": {**(lineage or {}), "partitions": partitions},
        }
        mpath = self._manifest_path(table, snapshot_id)
        mpath.parent.mkdir(parents=True, exist_ok=True)
        tmp = mpath.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, mpath)  # manifest commit point
        cur_tmp = self._current_path(table).with_suffix(".json.tmp")
        cur_tmp.write_text(json.dumps({"snapshot_id": snapshot_id}))
        os.replace(cur_tmp, self._current_path(table))  # atomic pointer flip
        return manifest

    # ---- read -------------------------------------------------------
    def current_snapshot(self, table: str) -> str | None:
        cur = self._current_path(table)
        if not cur.exists():
            return None
        return json.loads(cur.read_text())["snapshot_id"]

    def has_snapshot(self, table: str, snapshot_id: str) -> bool:
        return self._manifest_path(table, snapshot_id).exists()

    def manifest(self, table: str, snapshot_id: str) -> dict:
        return json.loads(self._manifest_path(table, snapshot_id).read_text())

    def read(
        self, spark: SparkSession, table: str, snapshot_id: str | None = None
    ) -> DataFrame:
        """The snapshot's rows, planned with the manifest's schema: no
        schema-inference job runs (Spark reads a file source's columns
        as nullable either way)."""
        sid = snapshot_id or self.current_snapshot(table)
        if sid is None:
            raise FileNotFoundError(f"no committed snapshot for table {table}")
        schema = T.StructType.fromJson(self.manifest(table, sid)["schema"])
        return spark.read.schema(schema).parquet(str(self._data_dir(table, sid)))

    def snapshots(self, table: str) -> list[str]:
        mdir = self._table_dir(table) / "manifests"
        if not mdir.exists():
            return []
        return sorted(p.stem for p in mdir.glob("*.json"))

    def drop_snapshot(self, table: str, snapshot_id: str) -> None:
        shutil.rmtree(self._data_dir(table, snapshot_id), ignore_errors=True)
        self._manifest_path(table, snapshot_id).unlink(missing_ok=True)

    # ---- maintenance -------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        table: str,
        snapshot_id: str | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        new_snapshot_id: str | None = None,
    ) -> dict:
        """Small-files compaction: rewrite a snapshot's data files into
        ~target-size files as a NEW immutable snapshot (Iceberg's
        rewrite_data_files semantics — history is preserved, readers of
        the old snapshot are untouched, the current pointer flips
        atomically only after the rewrite commits).

        The 100 TB why: every streaming micro-batch / incremental run
        appends small files; scans then pay per-file open cost and the
        driver pays per-file planning. Compaction restores the
        ~128 MB-file layout scans are sized for. The rewrite itself is
        one coalesce (narrow — no shuffle: target counts only ever
        MERGE files), sized from the snapshot's actual on-disk bytes.
        Returns the new manifest with lineage back to the source
        snapshot."""
        sid = snapshot_id or self.current_snapshot(table)
        if sid is None:
            raise FileNotFoundError(f"no committed snapshot for table {table}")
        src_dir = self._data_dir(table, sid)
        total_bytes = sum(
            p.stat().st_size for p in src_dir.rglob("*.parquet")
        )
        n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
        new_sid = new_snapshot_id or f"{sid}-compacted"
        df = self.read(spark, table, sid).coalesce(int(n_files))
        manifest = self.write_snapshot(
            df,
            table,
            new_sid,
            lineage={
                "op": "compact",
                "source_snapshot": sid,
                "source_bytes": int(total_bytes),
                "target_file_bytes": int(target_file_bytes),
            },
        )
        src_rows = self.manifest(table, sid)["rows"]
        if manifest["rows"] != src_rows:  # pragma: no cover - invariant
            raise RuntimeError(
                f"compaction row mismatch: {manifest['rows']} != {src_rows}"
            )
        return manifest

    def cluster(
        self,
        spark: SparkSession,
        table: str,
        cols: list[str],
        snapshot_id: str | None = None,
        n_files: int | None = None,
        bits_per_col: int = 8,
        new_snapshot_id: str | None = None,
    ) -> dict:
        """Z-order clustering rewrite (Delta `OPTIMIZE ZORDER BY` /
        Iceberg sort-order semantics): rewrite a snapshot's data
        clustered on the Morton interleave of `cols` as a NEW immutable
        snapshot — history preserved, pointer flips atomically after
        commit. Every clustered column then has tight per-file min/max
        envelopes, so parquet stats prune scans filtered on ANY of
        them (see sources/layout.py for why and how). One range
        shuffle; the quantile cutpoints are the only driver traffic."""
        from cordon_spark.sources.layout import zorder_value

        sid = snapshot_id or self.current_snapshot(table)
        if sid is None:
            raise FileNotFoundError(f"no committed snapshot for table {table}")
        src_dir = self._data_dir(table, sid)
        if n_files is None:
            n_files = max(
                1, len([p for p in src_dir.rglob("*.parquet")]) // 4
            )
        df = self.read(spark, table, sid)
        zdf, info = zorder_value(df, cols, bits_per_col)
        clustered = (
            zdf.repartitionByRange(int(n_files), "_zval")
            .sortWithinPartitions("_zval")
            .drop("_zval")
        )
        new_sid = new_snapshot_id or f"{sid}-zorder"
        manifest = self.write_snapshot(
            clustered,
            table,
            new_sid,
            lineage={
                "op": "cluster",
                "source_snapshot": sid,
                "zorder_cols": cols,
                "bits_per_col": bits_per_col,
                "n_files": int(n_files),
            },
        )
        src_rows = self.manifest(table, sid)["rows"]
        if manifest["rows"] != src_rows:  # pragma: no cover - invariant
            raise RuntimeError(
                f"cluster row mismatch: {manifest['rows']} != {src_rows}"
            )
        return manifest

