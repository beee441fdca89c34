"""The benchmark's workloads: seeded inputs, Spark-free references, the
fused program call that is timed, and the staged per-layer run.

The two pipeline workloads are one `analyze_transcripts` configuration
each, over a transcripts table made by
`datagen.generate_transcripts_fast(n, seed)` and written as many parquet
files (one small file would be one scan task). `driver_queries` runs a
fixed mix of `entry_queries.QUERIES` over a seeded row order of the
sf0.001 fixture tables in `data/`. Inputs and the reference outcome are cached
per (workload, size, seed) behind a completion marker, and are made
before any Spark session starts.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import re
import shutil
import sys
import time
import traceback
from pathlib import Path

import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
N_FILES = 16


class LayerAbsent(Exception):
    """A layer's public function no longer exists in the program."""


def public(module: str, name: str):
    try:
        return getattr(importlib.import_module(module), name)
    except (ImportError, AttributeError) as exc:
        raise LayerAbsent(f"{module}.{name}") from exc


class Inputs:
    def __init__(self, data: Path, n_turns: int, expected: dict) -> None:
        self.path = str(data)
        self.n_turns = n_turns
        self.expected = expected


class Workload:
    name = ""
    n_turns = 0
    # layers the staged run times, in call order
    layers: tuple[str, ...] = ()
    # span and job group of the fused traced call
    fused_span = "plans.pipeline"
    # operations one timed call makes; each can fail on its own
    ops_per_call = 1

    def config(self):
        raise NotImplementedError

    def prepare(self) -> None:
        """Adjust program settings before the run; nothing by default."""

    # ---- inputs and reference ------------------------------------------
    def inputs(self, work: Path, seed: int) -> Inputs:
        from cordon_spark.datagen import generate_transcripts_fast, write_parquet

        key = work / "inputs" / f"{self.name}-n{self.n_turns}-s{seed}"
        done = key / "_DONE"
        if not done.exists():
            shutil.rmtree(key, ignore_errors=True)
            pdf = generate_transcripts_fast(self.n_turns, seed=seed)
            step = -(-len(pdf) // N_FILES)
            for i in range(N_FILES):
                write_parquet(pdf.iloc[i * step : (i + 1) * step], str(key / "data" / f"part-{i:04d}.parquet"))
            expected = self.reference(pdf)
            (key / "expected.json").write_text(json.dumps(expected))
            done.write_text("ok")
        expected = json.loads((key / "expected.json").read_text())
        return Inputs(key / "data", self.n_turns, expected)

    def reference(self, pdf: pd.DataFrame) -> dict:
        raise NotImplementedError

    # ---- the timed program call ----------------------------------------
    def run(self, spark, paths: list[str], op_dir: Path, tracer=None) -> dict:
        """One `analyze_transcripts` call over the parquet `paths` on a
        ready session, returning the outcome it reports once complete."""
        raise NotImplementedError

    def check(self, outcome: dict, expected: dict) -> list[str]:
        """One line per difference from the reference."""
        return [
            f"{k}: differs from the reference" if isinstance(v, list)
            else f"{k}: got {outcome.get(k)!r}, reference {v!r}"
            for k, v in expected.items()
            if outcome.get(k) != v
        ]

    def staged(self, spark, inp: Inputs, tracer, op_dir: Path) -> dict:
        """The same dataflow as `run`, one public layer call per span,
        each layer's output forced inside its span; returns the outcome."""
        raise NotImplementedError


def _outcome(res) -> dict:
    return {
        "anomalous": int(res.counts["anomalous"]),
        "routine": int(res.counts["routine"]),
        "turns": int(res.counts["anomalous"] + res.counts["routine"]),
        "significant_windows": int(res.stats["significant_windows"]),
        "merged_blocks": int(res.stats["merged_blocks"]),
        "windows": int(res.stats["total_windows"]),
    }


def _block_set(blocks) -> list:
    return sorted(
        [r["conv_id"], int(r["start_idx"]), int(r["end_idx"])]
        for r in blocks.select("conv_id", "start_idx", "end_idx").collect()
    )


def _block_runs(conv: np.ndarray, wid: np.ndarray) -> int:
    """Blocks the merger forms from significant tumbling windows, given
    their (conv_id, window_id) sorted: windows tile each conversation, so
    two significant windows merge exactly when their ids are adjacent."""
    if len(wid) == 0:
        return 0
    new = np.ones(len(wid), dtype=bool)
    new[1:] = (conv[1:] != conv[:-1]) | (wid[1:] != wid[:-1] + 1)
    return int(new.sum())


class HeadlineCentroid(Workload):
    """The ROADMAP headline: parse -> window -> embed -> centroid score ->
    percentile threshold -> merge -> route, with no catalog."""

    name = "headline_centroid"
    n_turns = 60_000
    # The headline at 2M+ turns has more windows than the threshold's
    # direct-percentile limit and takes the bracketed scale path. This
    # input has 25k windows, so the benchmark lowers the limit to keep
    # the same path under test at a size one run can afford.
    direct_limit = 2_000
    layers = (
        "sources",
        "operators.parse",
        "operators.windowing",
        "functions.embeddings",
        "operators.scoring",
        "operators.threshold",
        "operators.merge",
        "operators.routing",
    )

    def config(self):
        from cordon_spark.config import AnalysisConfig

        return AnalysisConfig(scorer="centroid", anomaly_percentile=0.02)

    def templates(self):
        from cordon_spark.datagen import TEMPLATES

        return TEMPLATES

    def prepare(self) -> None:
        from cordon_spark.operators import threshold

        if hasattr(threshold, "EXACT_PERCENTILE_DIRECT_LIMIT"):
            threshold.EXACT_PERCENTILE_DIRECT_LIMIT = self.direct_limit

    def reference(self, pdf: pd.DataFrame) -> dict:
        """Pandas window pass + kernel.centroid_scores_loo +
        kernel.percentile_thresholds: no Spark."""
        from cordon_spark import kernel
        from cordon_spark.operators.parse import compile_templates

        cfg = self.config()
        text = pdf["text"].fillna("")
        uniq = pd.Series(pd.unique(text))
        tid = pd.Series([None] * len(uniq), dtype=object)
        for template_id, rx in compile_templates(self.templates()):
            pat = re.compile(rx)
            todo = tid.isna()
            hit = uniq[todo].map(lambda s: pat.search(s) is not None)
            tid[hit[hit].index] = template_id
        tid = tid.fillna("?")
        lookup = pd.Series(tid.values, index=uniq.values)
        stripped = pd.Series([kernel.rstrip_text(s) for s in uniq], index=uniq.values)

        t = pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].values,
                "wid": pdf["turn_idx"].values // cfg.window_size,
                "turn_idx": pdf["turn_idx"].values,
                "tid": lookup.reindex(text.values).values,
                "stripped": stripped.reindex(text.values).values,
            }
        )
        keys = ["conv_id", "wid"]
        by_turn = t.sort_values(keys + ["turn_idx"], kind="mergesort").groupby(keys, sort=True)
        content = by_turn["stripped"].agg("\n".join)
        n_in = by_turn.size()
        signature = (
            t.sort_values(keys + ["tid"], kind="mergesort").groupby(keys, sort=True)["tid"].agg(",".join)
        )
        vecs = kernel.embed_texts(content.tolist(), cfg.embedding_dim)
        codes, sigs = pd.factorize(signature.values)
        sums = np.zeros((len(sigs), vecs.shape[1]))
        np.add.at(sums, codes, vecs)
        counts = np.bincount(codes)
        scores = kernel.centroid_scores_loo(
            vecs,
            list(signature.values),
            dict(zip(sigs, sums)),
            dict(zip(sigs, counts.tolist())),
            sums.sum(axis=0),
            len(vecs),
        )
        kernel.percentile_thresholds(scores, cfg)
        keep = kernel.select_mask(scores, cfg)
        anomalous = int(n_in.values[keep].sum())
        idx = content.index[keep]
        return {
            "anomalous": anomalous,
            "routine": int(len(pdf) - anomalous),
            "turns": int(len(pdf)),
            "significant_windows": int(keep.sum()),
            "merged_blocks": _block_runs(
                idx.get_level_values(0).values, idx.get_level_values(1).values
            ),
        }

    def run(self, spark, paths: list[str], op_dir: Path, tracer=None) -> dict:
        from cordon_spark.plans.pipeline import analyze_transcripts

        res = analyze_transcripts(
            spark, spark.read.parquet(*paths), self.config(), templates=self.templates()
        )
        out = _outcome(res)
        res.unpersist()
        return out

    def staged(self, spark, inp: Inputs, tracer, op_dir: Path) -> dict:
        from pyspark.sql import functions as F

        cfg = self.config()
        src = tracer.force("sources", lambda: spark.read.parquet(inp.path))
        parsed = tracer.force(
            "operators.parse",
            lambda: public("cordon_spark.operators.parse", "extract_templates")(
                src, self.templates()
            ),
        )
        windows = tracer.force(
            "operators.windowing",
            lambda: public("cordon_spark.operators.windowing", "segment_windows")(
                parsed, cfg, template_col="template_id"
            ),
        )
        embedded = tracer.force(
            "functions.embeddings",
            lambda: public("cordon_spark.functions.embeddings", "create_embedder")(cfg)(
                windows, "content"
            ).drop("content"),
        )
        scored = tracer.force(
            "operators.scoring",
            lambda: public("cordon_spark.operators.scoring", "score_windows_centroid")(
                spark, embedded, cfg
            ).drop("embedding"),
        )

        def threshold():
            lower, _, _ = public("cordon_spark.operators.threshold", "thresholds_and_stats")(
                scored, cfg
            )
            return scored.filter(F.col("score") >= F.lit(lower))

        significant = tracer.force("operators.threshold", threshold)
        outcome, _, _ = _staged_tail(tracer, src, significant)
        return outcome


def _staged_tail(tracer, src, significant, keep_routed: bool = False):
    """merge -> route + sink counts; returns (outcome, blocks, routed)."""
    blocks = tracer.force(
        "operators.merge",
        lambda: public("cordon_spark.operators.merge", "merge_blocks")(significant),
    )

    def route():
        routed = public("cordon_spark.operators.routing", "route_turns")(src, blocks)
        if keep_routed:
            routed = routed.persist()
            tracer.keep(routed)
        counts = public("cordon_spark.operators.routing", "sink_counts")(routed)
        return counts, routed

    counts, routed = tracer.action(
        "operators.routing", route, rows=lambda r: r[0]["anomalous"] + r[0]["routine"]
    )
    outcome = {
        "anomalous": int(counts["anomalous"]),
        "routine": int(counts["routine"]),
        "turns": int(counts["anomalous"] + counts["routine"]),
        "significant_windows": tracer.rows["operators.threshold"],
        "merged_blocks": tracer.rows["operators.merge"],
    }
    return outcome, blocks, routed


class KnnBandSnapshots(Workload):
    """Exact kNN scorer, no templates (parse is skipped), percentile-band
    threshold keeping about 45% of windows, and a fresh SnapshotCatalog
    per call so every stage is written as a snapshot with lineage."""

    name = "knn_band_snapshots"
    n_turns = 16_000
    layers = (
        "sources",
        "operators.windowing",
        "functions.embeddings",
        "operators.scoring",
        "operators.threshold",
        "operators.merge",
        "operators.routing",
        "sources.catalog",
    )

    def config(self):
        from cordon_spark.config import AnalysisConfig

        return AnalysisConfig(scorer="knn", anomaly_range_min=0.05, anomaly_range_max=0.5)

    def reference(self, pdf: pd.DataFrame) -> dict:
        from cordon_spark.oracle import run_oracle

        res = run_oracle(pdf, self.config())
        s = res.stats
        return {
            "anomalous": s["anomalous_turns"],
            "routine": s["routine_turns"],
            "turns": int(len(pdf)),
            "significant_windows": s["significant_windows"],
            "merged_blocks": s["merged_blocks"],
            "blocks": sorted(
                [str(c), int(a), int(b)]
                for c, a, b in zip(
                    res.blocks["conv_id"], res.blocks["start_idx"], res.blocks["end_idx"]
                )
            ) if len(res.blocks) else [],
        }

    def _catalog(self, op_dir: Path):
        from cordon_spark.sources.catalog import SnapshotCatalog

        shutil.rmtree(op_dir, ignore_errors=True)
        return SnapshotCatalog(op_dir)

    def run(self, spark, paths: list[str], op_dir: Path, tracer=None) -> dict:
        from cordon_spark.plans.pipeline import analyze_transcripts

        res = analyze_transcripts(
            spark,
            spark.read.parquet(*paths),
            self.config(),
            catalog=self._catalog(op_dir),
            run_id=op_dir.name,
        )
        out = _outcome(res)
        out["_blocks_df"] = res.blocks
        res.unpersist()
        return out

    def check(self, outcome: dict, expected: dict) -> list[str]:
        # the block set is collected here, after the timed call returned
        blocks = outcome.pop("_blocks_df", None)
        if blocks is not None:
            outcome["blocks"] = _block_set(blocks)
        return super().check(outcome, expected)

    def staged(self, spark, inp: Inputs, tracer, op_dir: Path) -> dict:
        from pyspark.sql import functions as F

        cfg = self.config()
        src = tracer.force("sources", lambda: spark.read.parquet(inp.path))
        windows = tracer.force(
            "operators.windowing",
            lambda: public("cordon_spark.operators.windowing", "segment_windows")(src, cfg),
        )
        embedded = tracer.force(
            "functions.embeddings",
            lambda: public("cordon_spark.functions.embeddings", "create_embedder")(cfg)(
                windows, "content"
            ).drop("content"),
        )
        scored = tracer.force(
            "operators.scoring",
            lambda: public("cordon_spark.operators.scoring", "score_windows_knn")(
                spark, embedded, cfg
            ).drop("embedding"),
        )

        def threshold():
            lower, upper, _ = public("cordon_spark.operators.threshold", "thresholds_and_stats")(
                scored, cfg
            )
            return scored.filter((F.col("score") >= F.lit(lower)) & (F.col("score") < F.lit(upper)))

        significant = tracer.force("operators.threshold", threshold)
        outcome, blocks, routed = _staged_tail(tracer, src, significant, keep_routed=True)
        catalog = self._catalog(op_dir)

        def snapshots():
            # as plans.pipeline does it: the checkpointed stages get a
            # lineage pass, the write, and the read a resumed run makes;
            # the two sinks are written without a lineage pass
            lineage = public("cordon_spark.operators.metrics", "partition_lineage")
            committed = 0
            for table, df in (("scored_windows", scored), ("blocks", blocks), ("routed_turns", routed)):
                sid = f"{op_dir.name}-{table}"
                rows = lineage(df, table).collect()
                manifest = catalog.write_snapshot(
                    df,
                    table,
                    sid,
                    lineage={"partitions": [{"partition_id": r["partition_id"], "rows": r["rows"]} for r in rows]},
                )
                catalog.read(spark, table, sid)
                committed += manifest["rows"]
            anomalous, routine = public("cordon_spark.operators.routing", "split_sinks")(routed)
            for table, df in (("anomalous_turns", anomalous), ("routine_turns", routine)):
                committed += catalog.write_snapshot(df, table, f"{op_dir.name}-{table}")["rows"]
            return committed

        tracer.action("sources.catalog", snapshots, rows=lambda n: n)
        outcome["blocks"] = _block_set(blocks)
        return outcome


# One heavy and one light query from each group of entry queries, on
# both sides of the entry queries' `_spread` gate (documents and events
# are spread, embeddings and lineitem are not).
ENTRY_MIX = (
    "semdedup",  # per-row heavy: operators.dedup
    "pii_scrub",  # per-row heavy, lighter: operators.curation
    "threshold_range",  # second threshold spelling over exact kNN scores
    "ann_topk",  # kNN: operators.similarity
    "funnel_steps",  # light aggregation: operators.events
    "tpch_pricing_summary",  # light aggregation: one scan, one hash agg
)
FIXTURE_TABLES = ("documents", "embeddings", "events", "lineitem")
FIXTURE_DATA = HERE / "data" / "sf0.001"


def _value_hash():
    """`scripts/check_entry.value_hash`, the hash the entry-query
    correctness check compares."""
    scripts = str(HERE.parent / "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from check_entry import value_hash

    return value_hash


class DriverQueries(Workload):
    """A fixed mix of `entry_queries.QUERIES`, run one after another; one
    operation is one query, checked against its DuckDB `oracle_sql()`
    through `scripts/check_entry.value_hash`."""

    name = "driver_queries"
    fused_span = "entry_queries"
    ops_per_call = len(ENTRY_MIX)

    def inputs(self, work: Path, seed: int) -> Inputs:
        """The sf0.001 fixture tables in a row order drawn from `seed`,
        one single-row-group parquet file per table as the fixtures are
        laid out, and the DuckDB reference of every query on them."""
        import pyarrow.parquet as pq

        key = work / "inputs" / f"{self.name}-s{seed}"
        data = key / "data"
        done = key / "_DONE"
        if not done.exists():
            shutil.rmtree(key, ignore_errors=True)
            data.mkdir(parents=True)
            rng = np.random.default_rng(seed)
            for table in FIXTURE_TABLES:
                t = pq.read_table(FIXTURE_DATA / f"{table}.parquet")
                pq.write_table(t.take(rng.permutation(t.num_rows)), data / f"{table}.parquet")
            (key / "expected.json").write_text(json.dumps(self.reference(data)))
            done.write_text("ok")
        expected = json.loads((key / "expected.json").read_text())
        rows = sum(pq.ParquetFile(data / f"{t}.parquet").metadata.num_rows for t in FIXTURE_TABLES)
        return Inputs(data, rows, expected)

    def reference(self, data: Path) -> dict:
        import duckdb

        oracles = public("cordon_spark.entry_queries", "ORACLE_SQL")
        value_hash = _value_hash()
        con = duckdb.connect()
        for table in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data / table}.parquet')")
        expected = {}
        for name in ENTRY_MIX:
            rel = con.sql(oracles[name])
            rows, cols = rel.fetchall(), list(rel.columns)
            expected[name] = [len(rows), sorted(cols), value_hash(rows, cols)]
        con.close()
        return expected

    def run(self, spark, paths: list[str], op_dir: Path, tracer=None) -> dict:
        """Every query of the mix, rows collected; a query that raises is
        recorded as None and the mix goes on."""
        queries = public("cordon_spark.entry_queries", "QUERIES")
        out = {}
        for name in ENTRY_MIX:
            span = tracer.span(f"entry_queries.{name}") if tracer else contextlib.nullcontext()
            t0 = time.perf_counter()
            try:
                with span:
                    sdf = queries[name](spark, paths[0])
                    out[name] = ([tuple(r) for r in sdf.collect()], sdf.columns)
                print(f"  {name}: {time.perf_counter() - t0:.3f}s", file=sys.stderr)
                if tracer:
                    tracer.rows[f"entry_queries.{name}"] = len(out[name][0])
            except Exception:
                out[name] = None
                print(f"{name} raised\n{traceback.format_exc()}", file=sys.stderr)
        return out

    def check(self, outcome: dict, expected: dict) -> list[str]:
        value_hash = _value_hash()
        problems = []
        for name, ref in expected.items():
            got = outcome.get(name)
            if got is None:
                problems.append(f"{name}: raised")
                continue
            rows, cols = got
            if [len(rows), sorted(cols), value_hash(rows, cols)] != ref:
                problems.append(f"{name}: differs from the DuckDB oracle")
        return problems


WORKLOADS = {w.name: w for w in (HeadlineCentroid(), KnnBandSnapshots(), DriverQueries())}
