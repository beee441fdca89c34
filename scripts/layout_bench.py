"""Z-order layout evidence at sf0.1: measure — not claim — the
per-file envelope shrink and the file-pruning rate the clustered
layout buys on the 100k-row events table.

Compares three snapshots of the SAME data at the same file count:
  time     repartitionByRange(ts) — the natural ingest order
  user     repartitionByRange(user_id) — fixes user filters, breaks time
  zorder   SnapshotCatalog.cluster of `time` on (user_id, ts) — both
           dimensions prunable

For each layout: mean per-file [min,max] envelope as a fraction of the
global range for BOTH columns (file_locality), plus the fraction of
files a parquet reader could SKIP for (a) a point user_id filter and
(b) a 10%-of-range time filter, averaged over 20 probes.

Usage: python scripts/layout_bench.py [sf_dir] [n_files]
Prints one JSON line; paste the row into BENCH.md.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from pyspark.sql import functions as F

    from cordon_spark.session import get_spark
    from cordon_spark.sources.catalog import SnapshotCatalog
    from cordon_spark.sources.layout import file_locality

    spark = get_spark("layout_bench", master="local[8]", shuffle_partitions=32)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat = SnapshotCatalog(tempfile.mkdtemp(prefix="layout_bench_"))

    t0 = time.perf_counter()
    cat.write_snapshot(
        ev.repartitionByRange(n_files, "ts").sortWithinPartitions("ts"),
        "events",
        "time",
    )
    t_time = time.perf_counter() - t0
    t0 = time.perf_counter()
    cat.write_snapshot(
        ev.repartitionByRange(n_files, "user_id").sortWithinPartitions("user_id"),
        "events",
        "user",
    )
    t_user = time.perf_counter() - t0
    t0 = time.perf_counter()
    cat.cluster(
        spark,
        "events",
        ["user_id", "ts"],
        snapshot_id="time",
        n_files=n_files,
        new_snapshot_id="zorder",
    )
    t_z = time.perf_counter() - t0

    # probe sets: 20 users spread over the id range, 20 time windows
    users = [r[0] for r in ev.select("user_id").distinct().orderBy("user_id").collect()]
    probe_users = users[:: max(1, len(users) // 20)][:20]
    # same numeric view file_locality uses: epoch SECONDS as double
    sec = F.col("ts").cast("timestamp").cast("double")
    tmin, tmax = ev.agg(F.min(sec), F.max(sec)).collect()[0]
    span = tmax - tmin
    probe_windows = [
        (tmin + i / 20 * span, tmin + i / 20 * span + span / 10)
        for i in range(18)
    ]

    out = {"sf_dir": sf_dir, "n_files": n_files, "layouts": {}}
    for name, secs in (("time", t_time), ("user", t_user), ("zorder", t_z)):
        df = cat.read(spark, "events", name).withColumn("_file", F.input_file_name())
        loc = file_locality(df, ["user_id", "ts"]).collect()
        n = len(loc)
        mean_u = sum(r["frac_user_id"] for r in loc) / n
        mean_t = sum(r["frac_ts"] for r in loc) / n
        skip_u = sum(
            sum(1 for r in loc if not (r["min_user_id"] <= u <= r["max_user_id"]))
            for u in probe_users
        ) / (n * len(probe_users))
        skip_t = sum(
            sum(1 for r in loc if r["max_ts"] < lo or r["min_ts"] > hi)
            for lo, hi in probe_windows
        ) / (n * len(probe_windows))
        out["layouts"][name] = {
            "write_sec": round(secs, 2),
            "files": n,
            "mean_envelope_user": round(mean_u, 4),
            "mean_envelope_ts": round(mean_t, 4),
            "files_skipped_point_user_filter": round(skip_u, 4),
            "files_skipped_10pct_time_filter": round(skip_t, 4),
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
