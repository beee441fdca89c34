"""Z-order clustering layout (sources/layout.py + SnapshotCatalog
.cluster): interleave math, skew-resistant bucketing, measured
per-file locality improvement, and the pruning envelope a parquet
reader would actually skip on."""

import pytest
from pyspark.sql import functions as F

from cordon_spark.sources.catalog import SnapshotCatalog
from cordon_spark.sources.layout import file_locality, zorder_value

SF_DIR = "/root/testdata/sf0.001"


def test_single_column_zvalue_is_bucket_rank(spark):
    """With one column, the z-value IS the quantile bucket id — so it
    must be monotone in the column and span the requested bit range."""
    df = spark.range(0, 1024).withColumnRenamed("id", "x")
    zdf, info = zorder_value(df, ["x"], bits_per_col=4)
    rows = zdf.orderBy("x").select("x", "_zval").collect()
    zvals = [r._zval for r in rows]
    assert zvals == sorted(zvals)  # monotone
    assert min(zvals) == 0 and max(zvals) == 15  # all 16 buckets hit
    # quantile bucketing => near-equal bucket sizes on uniform data
    from collections import Counter

    sizes = Counter(zvals).values()
    assert max(sizes) - min(sizes) <= 96  # approx_percentile slack


def test_interleave_bits_two_columns(spark):
    """The Morton interleave: col j contributes bit i of its bucket to
    output bit i*k + j. Verified against a Python reference on the
    exact bucket ids Spark computed."""
    df = spark.range(0, 256).select(
        F.col("id").alias("x"), (255 - F.col("id")).alias("y")
    )
    zdf, _ = zorder_value(df, ["x", "y"], bits_per_col=4)
    # recompute buckets exactly as layout does: #cuts <= v
    import numpy as np

    pdf = zdf.toPandas()
    xs, ys = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    # bucket ranks must be monotone in the raw values, so the
    # interleave check can use rank-derived buckets from the data:
    # invert from _zval instead — deinterleave and verify monotonicity
    def deinterleave(z, j, k=2, bits=4):
        return sum(((z >> (i * k + j)) & 1) << i for i in range(bits))

    bx = np.array([deinterleave(z, 0) for z in pdf["_zval"]])
    by = np.array([deinterleave(z, 1) for z in pdf["_zval"]])
    # x ascending => bucket_x non-decreasing; y descending likewise
    order = np.argsort(xs)
    assert (np.diff(bx[order]) >= 0).all()
    order = np.argsort(ys)
    assert (np.diff(by[order]) >= 0).all()
    # and the interleave round-trips: rebuilding z from the
    # deinterleaved buckets reproduces every _zval exactly
    z_ref = [
        sum(((int(x) >> i & 1) << (i * 2)) | ((int(y) >> i & 1) << (i * 2 + 1))
            for i in range(4))
        for x, y in zip(bx, by)
    ]
    assert z_ref == list(pdf["_zval"])


def test_zorder_skew_resistant_buckets(spark):
    """Zipfian column: quantile cutpoints keep the hot value in ONE
    bucket and still split the tail — min/max linear scaling would put
    ~all rows in bucket 0. The largest bucket must hold no more than
    the hot value's own mass plus slack."""
    hot = spark.range(0, 900).select(F.lit(7).alias("x"))
    tail = spark.range(0, 100).select((F.col("id") * 1000 + 100).alias("x"))
    df = hot.union(tail)
    zdf, _ = zorder_value(df, ["x"], bits_per_col=3)
    sizes = {
        r["_zval"]: r["count"] for r in zdf.groupBy("_zval").count().collect()
    }
    hot_bucket = zdf.filter(F.col("x") == 7).select("_zval").first()["_zval"]
    # the atom sits alone in its bucket — no tail rows glued on, so a
    # filter on any tail value skips the atom's files entirely
    assert sizes[hot_bucket] == 900
    tail_buckets = set(sizes) - {hot_bucket}
    assert sum(sizes[b] for b in tail_buckets) == 100


def test_cluster_improves_both_column_envelopes(spark, tmp_path):
    """The measured claim: events written in natural (time) order have
    full-range user_id envelopes in every file (a user_id filter scans
    all of them); clustered by (user_id, ts) BOTH columns' mean
    per-file envelope shrinks far below 1, so either predicate can
    skip most files."""
    cat = SnapshotCatalog(tmp_path / "wh")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # natural layout: time-ordered, 16 files
    cat.write_snapshot(ev.orderBy("ts").repartitionByRange(16, "ts"), "events", "time")
    # 16 z-files => the top 4 z-bits split ~2 bits per dimension
    zsid = cat.cluster(spark, "events", ["user_id", "ts"], n_files=16)["snapshot_id"]

    def with_file(sid):
        return cat.read(spark, "events", sid).withColumn("_file", F.input_file_name())

    def mean_fracs(sid):
        loc = file_locality(with_file(sid), ["user_id", "ts"])
        row = loc.agg(
            F.avg("frac_user_id").alias("u"), F.avg("frac_ts").alias("t")
        ).collect()[0]
        return float(row["u"]), float(row["t"])

    u_plain, _t_plain = mean_fracs("time")
    u_z, t_z = mean_fracs(zsid)
    assert u_plain > 0.8  # time-ordered files see every user
    assert u_z < 0.6 * u_plain  # user envelope shrinks sharply...
    assert t_z < 0.6  # ...while time stays prunable too (vs 1.0 if
    #                     we had simply re-sorted by user_id)

    # pruning proxy: for a point user filter, most z-ordered files'
    # [min,max] envelope excludes the user entirely
    loc = file_locality(with_file(zsid), ["user_id"]).collect()
    target = 3.0
    prunable = [
        r for r in loc if not (r["min_user_id"] <= target <= r["max_user_id"])
    ]
    assert len(prunable) >= len(loc) // 2, (
        f"only {len(prunable)}/{len(loc)} files prunable for user {target}"
    )


def test_catalog_cluster_preserves_rows_and_history(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "wh")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    cat.write_snapshot(ev.orderBy("ts").repartition(8), "events", "s1")
    m = cat.cluster(spark, "events", ["user_id", "ts"], n_files=4)
    assert m["rows"] == cat.manifest("events", "s1")["rows"]
    assert m["lineage"]["op"] == "cluster"
    assert m["lineage"]["zorder_cols"] == ["user_id", "ts"]
    assert cat.current_snapshot("events") == "s1-zorder"
    assert cat.snapshots("events") == ["s1", "s1-zorder"]
    # old snapshot untouched (time travel still works)
    assert cat.read(spark, "events", "s1").count() == m["rows"]
    # clustered data identical as a SET
    a = cat.read(spark, "events", "s1").select("event_id")
    b = cat.read(spark, "events", "s1-zorder").select("event_id")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_zorder_value_guards(spark):
    df = spark.range(3).select(F.col("id").alias("x"))
    with pytest.raises(ValueError):
        zorder_value(df, [], bits_per_col=8)
    with pytest.raises(ValueError):
        zorder_value(df, ["x"] * 8, bits_per_col=9)  # 72 > 63 bits


def test_file_locality_all_null_column(spark):
    """An all-NULL clustered column (or empty frame) must yield NULL
    frac_<c>, not a float(None) TypeError on the global envelope."""
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0)], "user_id double, ts double"
    ).withColumn("_file", F.lit("f0"))
    rows = file_locality(df, ["user_id"]).collect()
    assert all(r["frac_user_id"] is None for r in rows)
