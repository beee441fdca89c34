"""Regenerate cordon_spark/pq_codebooks_sf001.py: the fixed PQ
codebooks that parameterize the pq_ann entry query AND its DuckDB
oracle.

Same baking strategy as gen_ivf_centroids.py: pq_fit runs the
bit-reproducible Lloyd fit (md5-seeded init, pid-sorted reduces) per
subspace, so the sf0.01 codebooks are stable constants. Unlike
ivf_ann (which re-fits inside the query), the pq_ann entry query
CONSUMES the baked codebooks directly — the build-once/serve-many
shape a real PQ index has — and a test asserts the baked codewords
equal a fresh fit so drift is caught in CI as well as by the driver's hash gate.

Each codeword row also bakes half_cc = 0.5 * dot(c, c): pq_fit returns
rows [*codeword, half_cc] from similarity.pq_with_half_cc, and they are
written verbatim, so both engines score with the identical constant
instead of each re-deriving it on its own host.

Usage: python scripts/gen_pq_codebooks.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

PQ_M = 8
PQ_CODES = 16
PQ_ITERS = 3


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .appName("gen_pq_codebooks")
        .getOrCreate()
    )
    from cordon_spark.session import ship_package

    ship_package(spark)
    from cordon_spark.entry_queries import _normalized_vectors
    from cordon_spark.operators import similarity as S

    vecs = _normalized_vectors(spark, sf_dir)
    books = S.pq_fit(vecs, m=PQ_M, n_codes=PQ_CODES, iters=PQ_ITERS)
    out = ROOT / "cordon_spark" / "pq_codebooks_sf001.py"
    subs = []
    for j in range(books.shape[0]):
        rows = ",\n".join(
            "        [" + ", ".join(repr(float(x)) for x in books[j, c]) + "]"
            for c in range(books.shape[1])
        )
        subs.append(f"    [\n{rows},\n    ]")
    body = ",\n".join(subs)
    out.write_text(
        '"""GENERATED by scripts/gen_pq_codebooks.py — deterministic PQ\n'
        f"codebooks (m={PQ_M}, n_codes={PQ_CODES}, iters={PQ_ITERS}) over\n"
        f"{sf_dir}, used by the pq_ann entry query and its DuckDB oracle.\n"
        "Each row is [*codeword, half_cc] with half_cc = 0.5*dot(c, c)\n"
        'baked so both engines share the constant. Do not edit by hand."""\n\n'
        f"PQ_CODEBOOKS_SF001 = [\n{body},\n]\n"
    )
    print(f"wrote {out} ({books.shape})")
    spark.stop()


if __name__ == "__main__":
    main()
