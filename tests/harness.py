"""Differential-test harness mimicking the driver's correctness gate:
row-count + schema (column-name set) + order-insensitive value comparison
between a Spark query fn and its DuckDB oracle SQL (SURVEY.md §5).

Stricter than a hash: on mismatch it reports sample differing rows.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import date, datetime

import numpy as np
import pandas as pd

NULL = "<NULL>"


def canon_cell(v):
    if v is None:
        return NULL
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return NULL
        if f == 0.0:  # normalize -0.0
            f = 0.0
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat(timespec="microseconds")
    if isinstance(v, datetime):
        return v.isoformat(timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, str):
        return v
    if v is pd.NaT:
        return NULL
    return repr(v)


def canon_rows(df: pd.DataFrame) -> Counter:
    cols = sorted(df.columns)
    out = Counter()
    for row in df[cols].itertuples(index=False, name=None):
        out[tuple(canon_cell(v) for v in row)] += 1
    return out


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "query") -> None:
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count mismatch spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    assert s_cols == o_cols, f"{name}: column mismatch spark={s_cols} oracle={o_cols}"
    s_rows, o_rows = canon_rows(spark_pdf), canon_rows(oracle_pdf)
    if s_rows != o_rows:
        only_s = list((s_rows - o_rows).items())[:5]
        only_o = list((o_rows - s_rows).items())[:5]
        raise AssertionError(
            f"{name}: value mismatch on columns {s_cols}\n"
            f"  rows only in spark (≤5): {only_s}\n"
            f"  rows only in oracle (≤5): {only_o}"
        )


def assert_driver_hashable_schema(df, name: str) -> None:
    """The driver's canonicalizer sorts the result frame in pandas, which
    crashes on unhashable cells (numpy.ndarray / dict) — the round-1
    q26 hard fail.  Guard every oracle-backed query's OUTPUT schema
    against array/map/struct top-level columns (bytes are hashable and
    fine; wrap arrays with array_join, structs with to_json)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: oracle-backed query returns driver-unhashable columns {bad}; "
        "serialize them (array_join / to_json) on both Spark and oracle sides"
    )


def run_and_compare(spark, duck, fn, oracle: str, name: str, sf_dir: str) -> None:
    df = fn(spark, sf_dir)
    assert_driver_hashable_schema(df, name)
    spark_pdf = df.toPandas()
    oracle_pdf = duck.execute(oracle).fetchdf()
    compare(spark_pdf, oracle_pdf, name)


def oracle_for(name: str, q, sf_dir: str) -> str:
    """``q``'s oracle SQL for ``sf_dir``.  Layout-audit oracles (qc13,
    qc18, q37b, q37c) bake the sf0.01 scratch paths at registration, so
    they are re-rendered to read the files Spark wrote for ``sf_dir``."""
    from spark_ml_optimization_spark.operators import curation, setops

    rerender = {
        "qc13_zorder_file_stats": curation.qc13_oracle_for,
        "qc18_small_file_compaction": curation.qc18_oracle_for,
        "q37b_merge_delete_compact": setops.q37b_oracle_for,
        "q37c_time_travel": setops.q37c_oracle_for,
    }
    return rerender[name](sf_dir) if name in rerender else q.oracle


#: Queries that mutate shared session state while CONSTRUCTING their
#: result (streaming drains set session confs, MLlib fits, scratch-dir
#: writers): the threaded fastlanes run them serially.
_EAGER_PREFIXES = ("st", "src", "ml", "qc13", "qc18")


def split_eager(names):
    """``(serial, threaded)``: the fastlanes run the eager-construction
    queries in ``names`` one by one first, then the pure-plan rest on a
    thread pool."""
    serial = [n for n in names if n.startswith(_EAGER_PREFIXES)]
    serial += [
        n for n in names if n in ("q37b_merge_delete_compact", "q37c_time_travel")
    ]
    threaded = [n for n in names if n not in set(serial)]
    return serial, threaded
