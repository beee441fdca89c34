"""SemDeDup at scale: coarse-quantizer fit + blocked within-cluster
pruning (operators/dedup.semdedup) over 1M 64-dim vectors on
the standalone cluster at two cluster sizes (the north rule's N vs 4N
criterion applied to the semantic-dedup tier; the driver-gate semdedup
query only proves sf-scale correctness).

Data plants G near-dup partners (ids n..n+G-1 are perturbed copies of
ids 0..G-1, partner cosine recorded exactly at gen time), so the
correctness of the run travels with the scale evidence, same policy as
dedup_scale_bench: every planted partner whose cluster matches its
original and whose true cosine >= tau MUST come back kept=false (the
original has the lower id) — recall over that eligible set is asserted
== 1.0 inside each leg. The same-cluster rate itself is reported (it
is a property of the quantizer, not the pruning).

Usage: python scripts/semdedup_scale_bench.py
(env: SEMDEDUP_VECTORS=1000000, SEMDEDUP_PLANTED=20000,
SCALE_EXEC_CORES=2, SEMDEDUP_LEGS=1,4, SEMDEDUP_CLUSTERS=256).
Appends a section to BENCH.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from scripts.dedup_scale_bench import CACHE, MASTER_URL, SPARK_HOME

DIM = 64
TAU = 0.95


def vectors_path(n: int, planted: int, seed: int = 13) -> str:
    """Structured unit vectors (rank-8 latent + noise — uniform random
    vectors have near-uniform cosine and make dedup trivial/meaning-
    less) with `planted` perturbed copies appended. Writes the true
    partner cosines next to the parquet."""
    path = f"{CACHE}/semdedup_vectors_{n}_{planted}_{seed}"
    if os.path.exists(f"{path}/_DONE"):
        return path
    import numpy as np
    import pandas as pd

    from cordon_spark.datagen import write_parquet

    os.makedirs(path, exist_ok=True)
    rng = np.random.RandomState(seed)
    basis = rng.randn(8, DIM)
    n_files = 64
    step = (n + n_files - 1) // n_files
    first_chunks = []
    n_first = 0
    for f in range(n_files):
        lo, hi = f * step, min((f + 1) * step, n)
        if lo >= hi:
            continue
        frng = np.random.RandomState(seed * 100003 + f)
        lat = frng.randn(hi - lo, 8)
        mat = lat @ basis + 0.05 * frng.randn(hi - lo, DIM)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        if n_first < planted:
            first_chunks.append(mat[: planted - n_first].copy())
            n_first += len(first_chunks[-1])
        write_parquet(
            pd.DataFrame(
                {
                    "vec_id": np.arange(lo, hi, dtype=np.int64),
                    "v": [row.astype(np.float64).tolist() for row in mat],
                }
            ),
            f"{path}/part-{f:04d}.parquet",
        )
    firsts = np.vstack(first_chunks)
    assert len(firsts) == planted, "planted exceeds corpus size"
    prng = np.random.RandomState(seed + 1)
    # unit-direction step of length 0.15 -> cosine ~ 1/sqrt(1+0.15^2)
    # ~ 0.989, comfortably above TAU (a raw 0.15*randn(DIM) step has
    # norm ~0.15*sqrt(DIM) ~ 1.2 and cosine ~0.64 — not a near-dup)
    noise = prng.randn(planted, DIM)
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    partners = firsts + 0.15 * noise
    partners /= np.linalg.norm(partners, axis=1, keepdims=True)
    cos = np.einsum("ij,ij->i", firsts, partners)
    write_parquet(
        pd.DataFrame(
            {
                "vec_id": np.arange(n, n + planted, dtype=np.int64),
                "v": [row.astype(np.float64).tolist() for row in partners],
            }
        ),
        f"{path}/part-planted.parquet",
    )
    Path(f"{path}/_planted.json").write_text(
        json.dumps({"n": n, "planted": planted, "cos": cos.tolist()})
    )
    open(f"{path}/_DONE", "w").write("ok")
    return path


LEG_CODE = '''
import sys, time, json, threading
sys.path.insert(0, "{root}")
from pyspark.sql import functions as F
from pyspark import StorageLevel
from cordon_spark.session import get_spark
from cordon_spark.operators import dedup as D
from cordon_spark.operators.similarity import kmeans_fit


class CpuProbe:
    """Samples /proc/stat while a timed window runs; avg busy cores =
    (non-idle jiffy delta) / (elapsed * HZ). Host-wide, so it counts
    JVM + python workers + driver together — the honest denominator
    for a single-host standalone 'cluster'."""

    def __init__(self):
        self._stop = threading.Event()
        self.samples = []

    @staticmethod
    def _busy_total():
        parts = open("/proc/stat").readline().split()
        vals = [int(x) for x in parts[1:]]
        idle = vals[3] + vals[4]  # idle + iowait
        steal = vals[7] if len(vals) > 7 else 0
        return sum(vals) - idle - steal, steal, sum(vals)

    def __enter__(self):
        self._b0, self._s0, self._t0 = self._busy_total()
        self._w0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        b1, s1, t1 = self._busy_total()
        wall = time.perf_counter() - self._w0
        ncpu = len([l for l in open("/proc/stat") if l.startswith("cpu") and l[3] != " "])
        total_delta = t1 - self._t0
        if total_delta > 0:
            # jiffies are per-cpu-summed in line 1: share * ncpu = cores
            self.busy_cores = (b1 - self._b0) / total_delta * ncpu
            self.steal_cores = (s1 - self._s0) / total_delta * ncpu
        else:
            self.busy_cores = self.steal_cores = float("nan")
        self.wall = wall

spark = get_spark("semdedup_scale_leg", master="{master}", shuffle_partitions={parts},
  extra_conf={{"spark.executor.cores": "{exec_cores}", "spark.cores.max": "{cores_max}",
              "spark.executor.memory": "8g", "spark.pyspark.python": sys.executable}})
vecs = spark.read.parquet("{data}").persist(StorageLevel.MEMORY_AND_DISK)
n_total = vecs.count()

# warm python workers (numpy import + BLAS) on a slice
D.semdedup(vecs.filter(F.col("vec_id") % 199 == 0),
           __import__("numpy").random.RandomState(0).randn(4, {dim}),
           tau={tau}).count()

with CpuProbe() as p_fit:
    cen = kmeans_fit(vecs, k={k}, iters=2, persist=False)
t_fit = p_fit.wall

with CpuProbe() as p_dedup:
    out = D.semdedup(vecs, cen, tau={tau}).persist(StorageLevel.MEMORY_AND_DISK)
    n_out = out.count()
    n_dropped = out.filter(~F.col("kept")).count()
t_dedup = p_dedup.wall

# planted-structure verification (outside the timed window, same leg)
pl = json.loads(open("{data}/_planted.json").read())
n, planted = pl["n"], pl["planted"]
asg = {{r.vec_id: (r.cluster, r.kept) for r in out.filter(
    (F.col("vec_id") < planted) | (F.col("vec_id") >= n)).collect()}}
eligible = pruned = same_cluster = 0
for i in range(planted):
    orig, part = asg[i], asg[n + i]
    if orig[0] == part[0]:
        same_cluster += 1
        if pl["cos"][i] >= {tau}:
            eligible += 1
            if not part[1]:
                pruned += 1
recall = pruned / eligible if eligible else float("nan")
assert n_out == n_total, (n_out, n_total)
assert eligible > 0 and recall == 1.0, (eligible, pruned, recall)

print("LEG_RESULT " + json.dumps({{
  "n": n_total, "t_fit": t_fit, "t_dedup": t_dedup,
  "vectors_per_sec": n_total / t_dedup,
  "busy_cores_fit": p_fit.busy_cores, "busy_cores_dedup": p_dedup.busy_cores,
  "steal_cores_fit": p_fit.steal_cores, "steal_cores_dedup": p_dedup.steal_cores,
  "n_dropped": n_dropped,
  "planted": planted, "eligible_same_cluster": eligible,
  "same_cluster_rate": same_cluster / planted, "planted_recall": recall,
}}))
'''


def run_leg(data: str, exec_cores: int, n_execs: int, k: int) -> dict:
    from cordon_spark.session import package_zip

    cores_max = exec_cores * n_execs
    code = LEG_CODE.format(
        root=ROOT, master=MASTER_URL, parts=max(cores_max * 4, 32),
        exec_cores=exec_cores, cores_max=cores_max, data=data,
        k=k, dim=DIM, tau=TAU,
    )
    driver = Path("/tmp/semdedup_scale_leg.py")
    driver.write_text(code)
    out = subprocess.run(
        [f"{SPARK_HOME}/bin/spark-submit", "--master", MASTER_URL,
         "--py-files", package_zip(), str(driver)],
        capture_output=True, text=True, timeout=3600, cwd=str(ROOT),
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("LEG_RESULT ")]
    if not lines:
        sys.stderr.write(out.stdout[-1500:] + "\n" + out.stderr[-3000:])
        raise RuntimeError(f"semdedup leg failed ({n_execs} executors)")
    return json.loads(lines[-1][len("LEG_RESULT "):])


def main() -> None:
    from scripts.scaling_bench import start_cluster, stop_cluster

    n = int(os.environ.get("SEMDEDUP_VECTORS", "1000000"))
    planted = int(os.environ.get("SEMDEDUP_PLANTED", "20000"))
    exec_cores = int(os.environ.get("SCALE_EXEC_CORES", "2"))
    k = int(os.environ.get("SEMDEDUP_CLUSTERS", "256"))
    legs = [int(x) for x in os.environ.get("SEMDEDUP_LEGS", "1,4").split(",")]
    data = vectors_path(n, planted)
    start_cluster()
    results = {}
    try:
        for n_execs in legs:
            results[n_execs] = run_leg(data, exec_cores, n_execs, k)
    finally:
        stop_cluster()

    lines = [
        "",
        f"## SemDeDup at {n:,} x {DIM}-dim vectors "
        f"(+{planted:,} planted near-dups), {time.strftime('%Y-%m-%d %H:%M')}",
        "",
        f"kmeans_fit k={k} iters=2 (fit) then semdedup tau={TAU} "
        "(one shuffle on the cluster id; blocked BLAS within-cluster "
        "pruning). Planted partners whose cluster matches their "
        "original and whose true cosine >= tau MUST prune — recall "
        "over that set asserted == 1.0 inside each leg "
        "(scripts/semdedup_scale_bench.py):",
        "",
        "| cluster size | fit s | dedup s | vectors/s | busy cores (dedup) | host steal cores | dropped | same-cluster rate | planted recall |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for n_execs, r in results.items():
        lines.append(
            f"| {n_execs} executor(s) x {exec_cores} cores "
            f"| {r['t_fit']:.1f} | {r['t_dedup']:.1f} "
            f"| {r['vectors_per_sec']:,.0f} "
            f"| {r.get('busy_cores_dedup', float('nan')):.1f} "
            f"| {r.get('steal_cores_dedup', float('nan')):.1f} "
            f"| {r['n_dropped']:,} "
            f"| {r['same_cluster_rate']:.3f} | {r['planted_recall']:.3f} |"
        )
    if len(results) >= 2:
        ks = sorted(results)
        eff_f = (results[ks[0]]["t_fit"] / results[ks[-1]]["t_fit"]) / (ks[-1] / ks[0])
        eff_d = (results[ks[0]]["t_dedup"] / results[ks[-1]]["t_dedup"]) / (ks[-1] / ks[0])
        lines += ["", f"Scaling efficiency {ks[0]} -> {ks[-1]} executors: "
                      f"fit **{eff_f:.3f}**, dedup **{eff_d:.3f}**"]
    lines += ["", "```json", json.dumps(results), "```", ""]
    with open(ROOT / "BENCH.md", "a") as fh:
        fh.write("\n".join(lines))
    print("\n".join(lines))


if __name__ == "__main__":
    main()
