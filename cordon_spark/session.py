"""SparkSession factory + worker-side package shipping.

Mirrors the deployment story of the north rule: the package ships to
executors the same way `spark-submit --py-files cordon_spark.zip` would —
we build the zip and register it on the SparkContext, so pandas UDFs can
`import cordon_spark.kernel` on any executor (works identically on
local[N] and a real multi-executor cluster).
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_REPO_ROOT = Path(__file__).resolve().parent.parent
_ZIP_NAME = "cordon_spark.zip"


def package_zip(out_dir: str | Path | None = None) -> str:
    """Zip the cordon_spark package for --py-files-style distribution."""
    pkg_dir = Path(__file__).resolve().parent
    out_dir = Path(out_dir) if out_dir else _REPO_ROOT / ".build"
    out_dir.mkdir(parents=True, exist_ok=True)
    zip_path = out_dir / _ZIP_NAME
    src_mtimes = max(p.stat().st_mtime for p in pkg_dir.rglob("*.py"))
    if zip_path.exists() and zip_path.stat().st_mtime >= src_mtimes:
        return str(zip_path)
    tmp = zip_path.with_suffix(".zip.tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
    os.replace(tmp, zip_path)
    return str(zip_path)


def ship_package(spark: SparkSession) -> None:
    """Register the package zip on a session, once: a session that
    already lists the zip among its Python includes (get_spark's, or a
    `--py-files cordon_spark.zip` submit) is left as it is. Spark does
    not raise on a second addPyFile; it warns and still appends the zip
    to the includes and the driver's sys.path again.

    Needed when the session was created by an external driver (e.g. the
    verify harness) rather than by get_spark().
    """
    sc = spark.sparkContext
    if _ZIP_NAME not in sc._python_includes:
        sc.addPyFile(package_zip())


_BLAS_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)


def pin_blas_threads() -> None:
    """One BLAS thread per python worker. Spark already parallelizes
    across workers; letting every worker spawn a full OpenBLAS pool
    oversubscribes cores catastrophically (measured: local[32] SLOWER
    than local[8] on the k-NN matmul before this pin). Must run before
    the JVM (and its python workers) launch so the env is inherited.
    The reference pins the same for its CI (.github/workflows/ci.yml:56).

    The `setdefault` pins only the Python workers Spark launches after
    it. It does not pin a driver that has already loaded numpy (its
    BLAS read the variables at load time), and it never overrides a
    value the caller set. So the driver and the workers may run
    different BLAS thread counts, and kernel results must not rely on
    this pin (see the numeric contract in cordon_spark.kernel)."""
    for var in _BLAS_VARS:
        os.environ.setdefault(var, "1")


def get_spark(
    app_name: str = "cordon_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    arrow_batch: int = 10_000,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The session every entry point runs on; `extra_conf` is applied
    last, so it overrides any setting below.

    PySpark's DataFrame debugging (`spark.python.sql.dataFrameDebugging.
    enabled`) is off. With it on, each `F.*`/`Column` call captures its
    Python call site through py4j (a conf read, an origin set and a
    clear), about half of a pipeline call's py4j round trips, and the
    first capture imports IPython. The trade-off: an analysis error's
    DataFrame query context no longer names the Python line that built
    the failing expression. Pass
    `extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}`
    to get it back; PySpark reads the flag once per process.

    `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is on
    (pyspark 4.1.2 leaves it off). Off, a persisted plan keeps its
    `spark.sql.shuffle.partitions` output partitions however few bytes
    they hold, so the pipeline's 15,000 headline windows (about 2MB)
    went through both centroid `mapInPandas` passes and every tail
    aggregate as that many tiny tasks, each paying the Python worker
    and task overhead. On, AQE coalesces a cached plan's output by its
    bytes as it does every other plan's (the advisory-size comment
    below has the rule): the tiny stages run as one task each, while a
    cache of at least defaultParallelism MB keeps defaultParallelism
    partitions. Measured on perfbench's `headline_centroid` (4 vCPUs,
    `local[4]`, 10 interleaved pairs): process-tree CPU per call
    11.49 -> 9.50 s median, better in 10 of 10 pairs; 15 -> 11 jobs.
    The cost: a cache no longer promises its hash partitioning, so a
    later query that relied on it for a join or aggregate may plan one
    more exchange. No consumer in this package relies on it; the kNN
    scorer repartitions explicitly."""
    pin_blas_threads()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 1)
    # shuffle/spill on tmpfs: this sandbox's /tmp sits on a virtual disk
    # whose fixed throughput doesn't scale with cores; /dev/shm is a
    # 126G tmpfs (RAM) — on a real cluster this maps to NVMe local dirs
    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # With coalescePartitions.parallelismFirst on (the default), AQE
        # targets min(advisory size, stage bytes / defaultParallelism)
        # per partition, floored at minPartitionSize (1MB): a stage of
        # at least defaultParallelism MB keeps defaultParallelism
        # partitions whatever this value is. The advisory size is only
        # a ceiling; 8MB (not the 64MB default) splits a stage above
        # defaultParallelism x 8MB into more, smaller python-UDF tasks
        # (measured at dp=2: 40MB -> 5 partitions at 8m, 3 at 64m).
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # a persisted plan's output is coalesced by the same rule (the
        # docstring has why and the cost)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # small tasks + multi-executor: 3s locality waits dwarf task time
        # (measured 12x slowdown on a 500-row mapInPandas); data is
        # storage-disaggregated at scale anyway, so don't wait for it
        .config("spark.locality.wait", "0s")
        # no per-Column call-site capture (the docstring has the cost)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for var in _BLAS_VARS:  # belt-and-braces for non-local deployments
        builder = builder.config(f"spark.executorEnv.{var}", "1")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
