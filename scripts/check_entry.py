"""Local mirror of the driver's correctness gate.

Runs each __spark_entry__.queries() entry on Spark and its
oracle_sql() on DuckDB over the same sf dir, comparing row count,
column names, and an order-insensitive value hash (rows sorted, columns
sorted by name, floats rendered via repr of float64). Prints one line
per query + a summary over the queries that ran; exit 1 on any mismatch
or on a requested query name that does not exist.

    python scripts/check_entry.py [sf_dir] [name,name,...] [--dump]

An empty sf_dir or name list means the default (`make verify SF=...
QUERIES=...` passes both through, empty when unset).
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canonical_rows(rows: list[tuple], cols: list[str]) -> list[str]:
    """The exact canonical form the hash is computed over: columns
    sorted by name, floats repr(round(.,9)), None -> ∅, rows sorted.
    Integral floats render as ints so a value that is int64 on one
    engine and float64 on the other (e.g. a DuckDB HUGEINT window sum
    materialized as pandas float64 vs Spark's long) compares by VALUE —
    the numeric tolerance the external gate's pandas path exhibits."""
    order = np.argsort(cols, kind="stable")
    norm_rows = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    r = round(v, 9)
                    if r.is_integer() and abs(r) < 2**53:
                        vals.append(str(int(r)))
                    else:
                        vals.append(repr(r))
            elif v is None:
                vals.append("∅")
            else:
                vals.append(str(v))
        norm_rows.append("|".join(vals))
    norm_rows.sort()
    return norm_rows


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    return hashlib.md5("\n".join(canonical_rows(rows, cols)).encode()).hexdigest()


_TYPE_NORM = {
    # spark simpleString -> canonical
    "bigint": "int64", "long": "int64", "int": "int32", "integer": "int32",
    "smallint": "int16", "double": "float64", "float": "float32",
    "string": "str", "varchar": "str", "boolean": "bool",
    "timestamp": "ts", "timestamp_ntz": "ts", "date": "date",
    # duckdb type names
    "BIGINT": "int64", "HUGEINT": "hugeint", "INTEGER": "int32",
    "SMALLINT": "int16", "DOUBLE": "float64", "FLOAT": "float32",
    "VARCHAR": "str", "BOOLEAN": "bool", "TIMESTAMP": "ts", "DATE": "date",
}


def type_map(pairs) -> dict:
    return {name: _TYPE_NORM.get(t, t) for name, t in pairs}


def types_compatible(spark_t: str, oracle_t: str) -> bool:
    """DuckDB HUGEINT (int128) has no Spark twin: the external gate
    materializes it as pandas float64, so either a Spark long or a
    Spark double is value-compatible with it."""
    if spark_t == oracle_t:
        return True
    return oracle_t == "hugeint" and spark_t in ("int64", "float64")


def dump_rows(name: str, engine: str, rows: list[tuple], cols: list[str]) -> Path:
    """Write both engines' canonical sorted rows to artifacts/ so a
    red driver cell is byte-diffable (header = sorted column names)."""
    out_dir = ROOT / "artifacts"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"{name}.{engine}.txt"
    header = "|".join(sorted(cols))
    path.write_text(header + "\n" + "\n".join(canonical_rows(rows, cols)) + "\n")
    return path


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--dump"]
    dump = "--dump" in sys.argv[1:]
    sf_dir = argv[0] if len(argv) > 0 and argv[0] else "/root/testdata/sf0.01"
    only = [n for n in argv[1].split(",") if n] if len(argv) > 1 else []

    import __spark_entry__ as E
    from cordon_spark.session import get_spark

    queries = E.queries()
    unknown = [n for n in only if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1
    selected = {n: fn for n, fn in queries.items() if not only or n in only}

    import os

    master = os.environ.get("CHECK_MASTER", "local[8]")
    spark = get_spark("check_entry", master=master, shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = E.oracle_sql()
    failures = []
    for name, fn in selected.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            cols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL  {name:28s} spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name:28s} n={len(srows):6d} (no oracle) {time.time()-t0:5.1f}s")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes_raw = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as exc:
            print(f"FAIL  {name:28s} duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema {sorted(cols)} vs {sorted(ocols)}")
        else:
            stypes = type_map((f.name, f.dataType.simpleString()) for f in sdf.schema.fields)
            otypes = type_map(zip(ocols, otypes_raw))
            drift = {
                c: (stypes[c], otypes[c])
                for c in stypes
                if not types_compatible(stypes[c], otypes.get(c))
            }
            if drift:
                problems.append(f"type drift {drift}")
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if not problems:
            h1, h2 = value_hash(srows, cols), value_hash(orows, ocols)
            if h1 != h2:
                problems.append("value-hash mismatch")
        if dump:
            p1 = dump_rows(name, "spark", srows, cols)
            p2 = dump_rows(name, "oracle", orows, ocols)
            print(f"dump  {name:28s} -> {p1.name}, {p2.name}")
        if problems:
            print(f"FAIL  {name:28s} {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"ok    {name:28s} n={len(srows):6d} {time.time()-t0:5.1f}s")

    print(f"\n{len(selected) - len(failures)}/{len(selected)} ok; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
