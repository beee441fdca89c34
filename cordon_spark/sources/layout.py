"""Z-order data layout: multi-dimensional clustering for snapshot
tables, so parquet row-group min/max stats prune scans on EVERY
clustered column, not just the sort-leading one.

The 100 TB why: a table sorted on `ts` answers time-range scans well
but reads everything for a `user_id` filter; sorting on `user_id`
inverts the problem. Interleaving the bit representations of both
columns (a Morton / Z-value) and range-partitioning + sorting on that
single value gives every file a tight min/max envelope in BOTH
dimensions, so either filter (or both) skips most files — the layout
trick Delta OSS `OPTIMIZE ZORDER BY` and Iceberg's sort orders ship
for exactly this reason.

Implementation is Spark-first and skew-resistant:

1. Per column, compute 2^bits - 1 QUANTILE cutpoints in ONE tiny
   aggregate (`approx_percentile`) — quantile bucketing (what Delta
   uses) keeps buckets balanced under Zipfian skew where naive
   min/max linear scaling would collapse all mass into one bucket.
   Strings cluster by `xxhash64` first: equal values land in the same
   bucket, so equality filters still prune (range filters on strings
   are documented as not supported).
2. Bucket assignment is a JVM-side fold over the literal cutpoint
   array (`F.aggregate` — whole-stage codegen, no Python in the hot
   path), bit interleave is shift/or arithmetic.
3. `SnapshotCatalog.cluster` writes the clustered snapshot:
   `repartitionByRange` on the z-value (one shuffle, sampled range
   boundaries => near-equal file sizes) + `sortWithinPartitions` so
   row groups inside each file are tight too.

Nothing here reads data to the driver beyond the k * (2^bits - 1)
cutpoints (a few KB)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

_TIME = (T.DateType, T.TimestampType, T.TimestampNTZType)
_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
) + _TIME


def _as_numeric(df: DataFrame, col: str) -> Column:
    """Numeric view of a column for quantile bucketing: numerics and
    time types (incl. TIMESTAMP_NTZ — parquet's default in this repo's
    fixtures; missing it would silently HASH timestamps and destroy
    time-range locality) cast to double; anything else clusters by
    xxhash64 (equality locality only)."""
    dt = df.schema[col].dataType
    c = F.col(col)
    if isinstance(dt, _TIME):
        return c.cast("timestamp").cast("double")
    if isinstance(dt, _NUMERIC):
        return c.cast("double")
    return F.xxhash64(c).cast("double")


def zorder_value(
    df: DataFrame, cols: list[str], bits_per_col: int = 8
) -> tuple[DataFrame, dict]:
    """Append a `_zval` long column: the Morton interleave of each
    column's quantile-bucket id. Returns (df + _zval, info dict with
    the cutpoints used). k * bits_per_col must fit in 63 bits."""
    k = len(cols)
    if k < 1:
        raise ValueError("zorder_value needs at least one column")
    if k * bits_per_col > 63:
        raise ValueError(
            f"{k} cols x {bits_per_col} bits = {k * bits_per_col} > 63 bits"
        )
    n_buckets = 1 << bits_per_col
    probs = [i / n_buckets for i in range(1, n_buckets)]

    # one aggregate computes every column's cutpoints
    aggs = [
        F.percentile_approx(_as_numeric(df, c), probs, 10_000).alias(c)
        for c in cols
    ]
    cut_row = df.agg(*aggs).collect()[0]
    cuts = {c: [x for x in (cut_row[c] or []) if x is not None] for c in cols}

    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cut_arr = F.array(*[F.lit(float(x)) for x in cuts[c]])
        # bucket = #cutpoints STRICTLY below the value, a codegen'd
        # fold over the literal array (2^bits - 1 comparisons per row,
        # JVM-side). Strict < matters under skew: a heavy-hitter value
        # equals a run of duplicate cutpoints, and strict comparison
        # drops the atom into the bucket BELOW the tail instead of
        # gluing atom + tail into one hot bucket.
        v = _as_numeric(df, c)
        bucket = F.aggregate(
            cut_arr,
            F.lit(0),
            lambda acc, cut: acc + F.when(v > cut, 1).otherwise(0),
        ).cast("long")
        bucket = F.coalesce(bucket, F.lit(0))  # NULLs -> bucket 0
        for i in range(bits_per_col):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    out = df.withColumn("_zval", z)
    return out, {"cols": cols, "bits_per_col": bits_per_col, "cuts": cuts}


def file_locality(df_with_file: DataFrame, cols: list[str]) -> DataFrame:
    """Per-file clustering diagnostics: for each input file and column,
    the fraction of the column's GLOBAL numeric range the file's
    [min, max] envelope spans (0 = perfectly clustered, 1 = the file
    could contain anything — no skipping possible). Input must carry
    `_file` (e.g. `df.withColumn('_file', F.input_file_name())`)."""
    num = [(_c, _as_numeric(df_with_file, _c).alias(f"_n_{_c}")) for _c in cols]
    base = df_with_file.select("_file", *[expr for _, expr in num])
    per_file = base.groupBy("_file").agg(
        *[F.min(f"_n_{c}").alias(f"min_{c}") for c in cols],
        *[F.max(f"_n_{c}").alias(f"max_{c}") for c in cols],
    )
    glob = base.agg(
        *[F.min(f"_n_{c}").alias(f"gmin_{c}") for c in cols],
        *[F.max(f"_n_{c}").alias(f"gmax_{c}") for c in cols],
    ).collect()[0]
    out = per_file
    for c in cols:
        gmin, gmax = glob[f"gmin_{c}"], glob[f"gmax_{c}"]
        if gmin is None or gmax is None:
            # all-NULL column or empty input: no global span exists —
            # emit NULL frac rather than crashing on float(None)
            out = out.withColumn(f"frac_{c}", F.lit(None).cast("double"))
            continue
        span = float(gmax) - float(gmin) or 1.0
        out = out.withColumn(
            f"frac_{c}",
            (F.col(f"max_{c}") - F.col(f"min_{c}")) / F.lit(span),
        )
    return out
