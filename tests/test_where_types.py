"""decode(where=) on every column type it supports: one table holds a
column of each, with nulls, and is encoded once; each column's
lower-bounded range, upper-bounded range and IN-list must return the
rows Spark's own filter keeps over the source rows."""

from __future__ import annotations

import datetime

import pytest

SCHEMA = (
    "repo string, path string, commit string, big bigint, i int, s smallint, "
    "t tinyint, flag boolean, ts timestamp, d date, f float, x double, name string"
)
N = 48


def _source_rows():
    nan = float("nan")
    t0, d0 = datetime.datetime(2024, 1, 1), datetime.date(2000, 1, 1)
    rows = []
    for r in range(N):
        def v(x, every=7, at=3):
            return None if r % every == at else x

        rows.append((
            f"org/r{r % 4}", f"f{r}.py", f"c{r:03d}",
            v((r - 20) * 10**12), v(r * 37 - 700, 6, 1), v(r * 1300 - 32_000, 8, 5),
            v(r * 5 - 120, 9, 2), v(r % 3 == 0, 5, 2), v(t0 + datetime.timedelta(hours=7 * r)),
            v(d0 + datetime.timedelta(days=40 * r), 6, 4),
            nan if r == 7 else v(r * 0.5 - 10, 10, 9),
            nan if r == 30 else v(r * 1.25 - 20, 11, 2),
            v(f"n{r:02d}", 8, 0),
        ))
    return rows


# column -> (lower bound, upper bound, IN-list values)
CASES = {
    "big": (5 * 10**12, -10 * 10**12, [0, 7 * 10**12, 123]),
    "i": (600, -300, [-700, -330, 5]),
    "s": (20_000, -15_000, [-32_000, 1300 * 10 - 32_000]),
    "t": (60, -100, [-120, -70, 7]),
    "flag": (True, False, [True]),
    "ts": (datetime.datetime(2024, 1, 8), datetime.datetime(2024, 1, 3, 12),
           [datetime.datetime(2024, 1, 1, 7), datetime.datetime(2024, 1, 9, 2)]),
    "d": (datetime.date(2003, 1, 1), datetime.date(2001, 6, 1),
          [datetime.date(2000, 1, 1), datetime.date(2000, 2, 10)]),
    "f": (8.0, -4.5, [-10.0, 0.0, 3.5]),
    "x": (30.0, -11.25, [-20.0, 10.0]),
    "name": ("n40", "n05", ["n11", "n12", "zzz"]),
}
NAN_XFAIL = pytest.mark.xfail(
    strict=True, reason="a top-level float NaN decodes as null (ROADMAP, NaN is a value)"
)


def _params():
    for col in CASES:
        for kind in ("lo", "hi", "in"):
            marks = NAN_XFAIL if col in ("f", "x") and kind == "lo" else ()
            yield pytest.param(col, kind, marks=marks, id=f"{col}-{kind}")


@pytest.fixture(scope="module")
def where_table(spark, tmp_path_factory):
    from deltoid_spark.jobs import encode

    df = spark.createDataFrame(_source_rows(), SCHEMA)
    path = str(tmp_path_factory.mktemp("where_types"))
    encode(spark, df, path, target_rows=12)
    return df, path


@pytest.mark.parametrize("col,kind", list(_params()))
def test_where_matches_spark_filter(spark, where_table, col, kind):
    import pyspark.sql.functions as F

    from deltoid_spark.jobs import decode

    df, path = where_table
    lo, hi, vals = CASES[col]
    c = F.col(col)
    if kind == "lo":
        where, cond = (col, lo, None), c >= F.lit(lo)
    elif kind == "hi":
        where, cond = (col, None, hi), c <= F.lit(hi)
    else:
        where, cond = (col, vals), c.isin(vals)
    want = sorted(r["commit"] for r in df.filter(cond).collect())
    got = sorted(r["commit"] for r in decode(spark, path, where=where).collect())
    assert want, (col, kind)
    assert got == want


@pytest.mark.parametrize(
    "value,key", [(True, 1), (False, 0), (1, 1), (0, 0), ("true", 1), ("false", 0)]
)
def test_boolean_where_values(value, key):
    """A boolean where= value may be a bool, 0/1 or the CLI's raw text;
    the residual literal is a Python bool and the zone key 0/1."""
    from deltoid_spark.jobs.pipeline import _parse_where

    (p,) = _parse_where(("flag", value, value), [("flag", "boolean")])
    typed, k = p.lo
    assert typed is bool(key) and k == key


@pytest.mark.parametrize("value", ["yes", 2, 0.5, -1])
def test_boolean_where_rejects_other_values(value):
    from deltoid_spark.jobs.pipeline import _parse_where

    with pytest.raises(ValueError, match="flag"):
        _parse_where(("flag", [value]), [("flag", "boolean")])
