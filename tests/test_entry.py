"""Self-check of the driver contract: run every queries() entry and
compare against its oracle_sql() with the same discipline the driver
uses (row count + schema shape + order-insensitive exact values).

This is the local twin of CORRECTNESS_r{N}.json — if this file is
green, the driver's DuckDB comparison should be too.
"""

import math

import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].map(lambda v: isinstance(v, (list, tuple))).any():
            pdf[c] = pdf[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
        # numpy arrays from Spark toPandas
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(
                lambda v: tuple(v) if hasattr(v, "__len__") and not isinstance(v, str) else v
            )
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_values_equal(x, y) for x, y in zip(a, b))
    return a == b


QUERY_NAMES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    fn = entry_mod.queries()[name]
    got = fn(spark, SF_DIR).toPandas()
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        # rows-only contract: must run and return a stable row count
        again = fn(spark, SF_DIR).toPandas()
        assert len(got) == len(again)
        return
    want = ddb.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: column mismatch {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows vs oracle {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c], w[c])):
            assert _values_equal(x, y), f"{name}.{c} row {i}: {x!r} != {y!r}"


def test_no_array_typed_result_columns(spark):
    """The driver harness canonicalizes results with pandas sort_values,
    which raises `unhashable type: 'list'` on array/map columns (the
    round-1 kg_edges failure). Every query must emit only scalar
    columns — arrays get array_join'ed before the surface."""
    from pyspark.sql import types as T

    banned = (T.ArrayType, T.MapType, T.StructType)
    for name, fn in entry_mod.queries().items():
        for field in fn(spark, SF_DIR).schema.fields:
            assert not isinstance(field.dataType, banned), (
                f"{name}.{field.name} is {field.dataType} — driver canonicalizer "
                "cannot sort it; emit a joined string instead"
            )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) >= 3


def test_doc_repetition_n_bigrams_is_integer_in_both_engines(spark, ddb):
    """n_bigrams is a count: the oracle must return it with an integer
    dtype, as Spark does, not the float DuckDB gives a bare COALESCE
    over a SUM."""
    want = ddb.execute(entry_mod.oracle_sql()["doc_repetition"]).fetchdf()
    assert pd.api.types.is_integer_dtype(want["n_bigrams"]), want["n_bigrams"].dtype
    got = entry_mod.queries()["doc_repetition"](spark, SF_DIR).toPandas()
    assert pd.api.types.is_integer_dtype(got["n_bigrams"]), got["n_bigrams"].dtype
