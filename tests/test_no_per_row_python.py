"""Enforce the input_hint hard requirement: no per-row Python UDFs and
no RDD row lambdas anywhere in the engine (SURVEY §7.3#6). Vectorized
pandas/Arrow UDFs (pandas_udf, applyInPandas, mapInPandas) are the only
sanctioned Python execution paths."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).parent.parent / "cim_framework_graph_partitioning_spark"

BANNED = [
    re.compile(r"\bF\.udf\("),
    re.compile(r"(?<!pandas_)\budf\(\s*lambda"),
    re.compile(r"@udf\b"),
    re.compile(r"\.rdd\b"),
    re.compile(r"\bsc\.parallelize\("),
    # a Python list given to createDataFrame is sc.parallelize plus a
    # per-row identity lambda (a PythonRDD), re-run in Python workers on
    # every read of the frame: build driver tables with local_rows.
    re.compile(r"\bcreateDataFrame\("),
    # per-row Python callables hidden inside pandas-UDF bodies: pandas
    # Series.map/DataFrame.apply with a Python function, or explicit
    # row iteration — these evade the Spark-level bans above while still
    # executing Python once per row.
    re.compile(r"\.map\("),
    re.compile(r"\.apply\((?!InPandas)"),
    re.compile(r"\.iterrows\("),
    re.compile(r"\.itertuples\("),
]

EXEMPT = ("allow-jvm-handle", "allow-arrow-table")


def test_no_row_at_a_time_python():
    offenders = []
    for path in PKG.rglob("*.py"):
        lines = path.read_text().splitlines()
        for i, text in enumerate(lines, start=1):
            # audited exemptions, marked explicitly and justified in code:
            # a py4j JVM handle (e.g. LogicalRDD.rdd accessor for
            # checkpoint release) is not row-at-a-time Python, and
            # local_rows hands createDataFrame an Arrow table, not a list.
            if any(mark in text for mark in EXEMPT):
                continue
            for rx in BANNED:
                for m in rx.finditer(text):
                    offenders.append(f"{path.name}:{i}:{m.group(0)}")
    assert not offenders, f"per-row Python found: {offenders}"
