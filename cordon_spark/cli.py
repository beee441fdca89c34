"""OP-12: CLI mirroring the reference's argparse surface (cli.py:10-141)
for spark-submit deployment.

    spark-submit --py-files .build/cordon_spark.zip -m  # or:
    python -m cordon_spark.cli INPUT [INPUT...] [flags]

INPUT is a transcripts parquet path or a raw .log/.txt file (routed
through the OP-1 text source). Range mode overrides percentile with a
warning (reference cli.py:250-259); multi-file loop (cli.py:304-306);
--output writes rendered blocks (cli.py:192-206)."""

from __future__ import annotations

import argparse
import json
import sys
import time

from cordon_spark.config import AnalysisConfig
from cordon_spark.datagen import TEMPLATES


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="cordon-spark", description="semantic transcript/log anomaly reduction"
    )
    p.add_argument("inputs", nargs="+", help="transcripts parquet or raw log file(s)")
    p.add_argument("--window-size", type=int, default=4)
    p.add_argument("--k-neighbors", type=int, default=5)
    p.add_argument("--anomaly-percentile", type=float, default=0.1)
    p.add_argument(
        "--anomaly-range", nargs=2, type=float, metavar=("MIN", "MAX"), default=None
    )
    p.add_argument("--backend", default="hash",
                   choices=["hash", "sentence-transformers", "llama-cpp", "remote"])
    p.add_argument("--model-name", default="hash-64")
    p.add_argument("--model-path", default=None,
                   help="GGUF model path (llama-cpp; auto-downloads default if omitted)")
    p.add_argument("--batch-size", type=int, default=32)
    p.add_argument("--device", default=None, choices=["cuda", "mps", "cpu"],
                   help="informational on CPU executors; validated for config parity")
    p.add_argument("--api-key", default=None, help="remote backend API key")
    p.add_argument("--endpoint", default=None, help="remote backend API base URL")
    p.add_argument("--scoring-batch-size", type=int, default=None)
    p.add_argument("--n-ctx", type=int, default=2048)
    p.add_argument("--n-gpu-layers", type=int, default=0)
    p.add_argument("--n-threads", type=int, default=None)
    p.add_argument("--detailed", action="store_true",
                   help="print detailed statistics (reference cli.py:172-186 format)")
    p.add_argument("--scorer", default="knn", choices=["knn", "centroid"])
    p.add_argument("--master", default=None)
    p.add_argument("--warehouse", default=None, help="snapshot catalog root (enables resume)")
    p.add_argument("--run-id", default="cli")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--output", "-o", default=None, help="write rendered blocks here")
    p.add_argument("--output-table", default=None,
                   help="write rendered blocks to this catalog table (distributed; "
                        "requires --warehouse). Use instead of --output/stdout when "
                        "the block set is too large to collect to the driver.")
    p.add_argument("--max-render-rows", type=int, default=1_000_000,
                   help="refuse to collect more rendered blocks than this to the "
                        "driver (--output/stdout paths); use --output-table beyond it")
    p.add_argument("--json", action="store_true", help="print stats as JSON")
    p.add_argument("--tool-registry", default=None,
                   help="parquet dim (tool, tool_category, risk_level) joined onto routed turns")
    p.add_argument("--role-taxonomy", default=None,
                   help="parquet dim (role, role_group) joined onto routed turns")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.anomaly_range is not None and args.anomaly_percentile != 0.1:
        print(
            "warning: --anomaly-range overrides --anomaly-percentile",
            file=sys.stderr,
        )
    try:
        cfg = AnalysisConfig(
            window_size=args.window_size,
            k_neighbors=args.k_neighbors,
            anomaly_percentile=args.anomaly_percentile,
            anomaly_range_min=args.anomaly_range[0] if args.anomaly_range else None,
            anomaly_range_max=args.anomaly_range[1] if args.anomaly_range else None,
            backend=args.backend,
            model_name=args.model_name,
            model_path=args.model_path,
            batch_size=args.batch_size,
            device=args.device,
            api_base=args.endpoint,
            api_key=args.api_key,
            scoring_batch_size=args.scoring_batch_size,
            n_ctx=args.n_ctx,
            n_gpu_layers=args.n_gpu_layers,
            n_threads=args.n_threads,
            scorer=args.scorer,
        )
    except ValueError as exc:  # eager validation, reference cli.py:262-283
        print(f"error: {exc}", file=sys.stderr)
        return 2
    if args.output_table and not args.warehouse:
        print("error: --output-table requires --warehouse", file=sys.stderr)
        return 2
    if args.output_table and args.output:
        print(
            "error: --output and --output-table are mutually exclusive "
            "(one driver-side file, one distributed table sink)",
            file=sys.stderr,
        )
        return 2

    from cordon_spark.plans.pipeline import analyze_transcripts
    from cordon_spark.operators.routing import render_blocks
    from cordon_spark.session import get_spark
    from cordon_spark.sources.catalog import SnapshotCatalog
    from cordon_spark.sources.transcripts import read_transcripts

    spark = get_spark("cordon_spark_cli", master=args.master)
    catalog = SnapshotCatalog(args.warehouse) if args.warehouse else None
    # Eager dim-table validation (same clean-error contract as config): a
    # bad path here should not abort the whole run with a raw traceback.
    tool_registry = role_taxonomy = None
    try:
        if args.tool_registry:
            tool_registry = spark.read.parquet(args.tool_registry)
            tool_registry.schema  # force analysis (path existence) eagerly
        if args.role_taxonomy:
            role_taxonomy = spark.read.parquet(args.role_taxonomy)
            role_taxonomy.schema
    except Exception as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2

    from cordon_spark.kernel import stable_hash64

    rc = 0
    for path in args.inputs:
        t0 = time.time()
        res = None
        try:
            # parquet / jsonl / csv / raw log, by extension
            transcripts = read_transcripts(spark, path)
            res = analyze_transcripts(
                spark,
                transcripts,
                cfg,
                templates=TEMPLATES if cfg.scorer == "centroid" else None,
                catalog=catalog,
                # PYTHONHASHSEED-independent suffix so --resume in a NEW
                # process finds the prior run's snapshots (reference
                # benchmark/evaluate.py:898-965 resume contract).
                run_id=f"{args.run_id}-{stable_hash64(path) % 10**8}",
                resume=args.resume,
                tool_registry=tool_registry,
                role_taxonomy=role_taxonomy,
            )
            # render/collect/write stay inside the per-file guard: Spark
            # is lazy, so executor failures can first surface HERE.
            # Log files render 1-INDEXED line numbers like the reference
            # (formatter.py:54); transcript tables keep turn indices.
            from cordon_spark.sources.transcripts import _RAW_LOG_SUFFIXES

            base = 1 if path.lower().endswith(_RAW_LOG_SUFFIXES) else 0
            rendered = render_blocks(transcripts, res.blocks, index_base=base)
            if args.output_table:
                # Distributed sink: never collects to the driver — the
                # 100 TB path when blocks are not a driver-sized minority.
                catalog.write_snapshot(
                    rendered, args.output_table,
                    snapshot_id=f"{args.run_id}-{stable_hash64(path) % 10**8}",
                    lineage={"input": path, "stage": "rendered_blocks"},
                )
            else:
                # Driver-side render (reference-parity stdout/--output),
                # guarded in ONE job: collect at most max+1 rows, so a fat
                # block set fails with a pointer instead of OOMing the
                # driver, and the render join runs once.
                rows = (
                    rendered.orderBy("conv_id", "start_idx")
                    .limit(args.max_render_rows + 1)
                    .collect()
                )
                if len(rows) > args.max_render_rows:
                    raise RuntimeError(
                        f"more than --max-render-rows={args.max_render_rows} "
                        "rendered blocks; use --output-table (with "
                        "--warehouse) for a distributed write instead of "
                        "collecting to the driver"
                    )
                out_text = "\n\n".join(r.block_text for r in rows)
                if args.output:
                    with open(args.output, "w", encoding="utf-8") as fh:
                        fh.write(out_text)
                else:
                    print(out_text)
        except Exception as exc:  # per-file failure -> nonzero exit, keep going
            print(f"error: {path}: {exc}", file=sys.stderr)
            rc = 1
            if res is not None:
                res.unpersist()
            continue
        summary = dict(res.stats, seconds=round(time.time() - t0, 2), input=path)
        if args.detailed:  # reference cli.py:172-186 format
            print("\nAnalysis Statistics:", file=sys.stderr)
            print(f"  Total windows created: {summary['total_windows']:,}", file=sys.stderr)
            print(f"  Significant windows: {summary['significant_windows']:,}", file=sys.stderr)
            print(f"  Merged blocks: {summary['merged_blocks']}", file=sys.stderr)
            print(f"  Processing time: {summary['seconds']:.2f}s", file=sys.stderr)
            print("\nScore Distribution:", file=sys.stderr)
            for key, label in (
                ("min", "Min:   "), ("mean", "Mean:  "), ("median", "Median:"),
                ("p90", "P90:   "), ("max", "Max:   "),
            ):
                print(f"  {label} {summary[key]:.4f}", file=sys.stderr)
        if args.json:
            print(json.dumps(summary), file=sys.stderr)
        else:
            print(
                f"{path}: {summary['total_windows']} windows, "
                f"{summary['significant_windows']} significant, "
                f"{summary['merged_blocks']} blocks, "
                f"{res.counts['anomalous']} anomalous turns "
                f"({summary['seconds']}s)",
                file=sys.stderr,
            )
        res.unpersist()
    return rc


if __name__ == "__main__":
    sys.exit(main())
