"""Graft parse stage: vectorized regex/grok template extraction.

Template semantics are the reference benchmark's line->template
attribution (benchmark/evaluate.py:131-179): a wildcard template string
whose `[*]` holes match lazily — compiled as
`re.escape(template).replace(r'\\[\\*\\]', '.*?')` then `pattern.search`,
first match in template order wins (evaluate.py:144-151, :168-179).

Spark spelling: a first-match-wins CASE chain of JVM `rlike`
predicates inside whole-stage codegen — no Python boundary at all
(guide §4.1: built-ins beat any UDF; the earlier Arrow-UDF spelling
paid a full serialize/transpose round-trip of every row's text, which
dominated the stage at 20M rows, ~8.5s -> ~2s measured). `rlike` is
contains/search semantics, exactly like the reference's
`pattern.search`. The compiled patterns are `re.escape`d literals with
lazy `.*?` holes. Java's `.` does not match `\\r`, `\\x85`, `\\u2028` or
`\\u2029`, where Python's `re` (the reference matcher) and DuckDB stop
only at `\\n`; the Spark-side pattern therefore carries Java's `(?d)`
(UNIX_LINES), under which `\\n` is the only line terminator and the two
engines agree (tests/test_parse_enrich.py asserts it against `re.search`,
the reference's matcher, for each of these characters). Unmatched
text -> template_id null (the parse-failure lineage counter picks these
up)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F, types as T


def compile_templates(templates: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """[(template_id, wildcard template)] -> [(template_id, regex)].
    Exactly the reference's wildcard compilation (evaluate.py:144-151)."""
    out = []
    for template_id, template in templates:
        pattern = re.escape(template).replace(r"\[\*\]", ".*?")
        out.append((template_id, pattern))
    return out


def extract_templates(
    df: DataFrame,
    templates: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "template_id",
) -> DataFrame:
    compiled = compile_templates(templates)
    null_str = F.lit(None).cast(T.StringType())
    if not compiled:
        return df.withColumn(out_col, null_str)
    text = F.coalesce(F.col(text_col), F.lit(""))
    chain = None
    for tid, rx in compiled:
        cond = text.rlike("(?d)" + rx)
        chain = F.when(cond, F.lit(tid)) if chain is None else chain.when(
            cond, F.lit(tid)
        )
    return df.withColumn(out_col, chain.otherwise(null_str))
