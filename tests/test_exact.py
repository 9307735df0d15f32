"""``functions/exact.py`` against Python's ``decimal`` model, and the
static guard that keeps decimal widths inside ``functions/``.

Inputs are decimal numbers with at most 14 significant digits, so a
double holds them and its shortest representation is the number
itself — the representation Spark's double→decimal cast rounds."""

from __future__ import annotations

import ast
import os
from decimal import ROUND_HALF_UP, Decimal, localcontext

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from component_delta_lake_writer_spark.functions.exact import (
    accumulator,
    exact_sum,
    exact_sum_product,
    quantize,
    ratio,
)
from conftest import FULL_TESTS, REPO

PKG = REPO / "component_delta_lake_writer_spark"
SIG = 14  # significant digits of a generated input


def _ex(n: int) -> int:
    return n if FULL_TESTS else max(4, n // 5)


SETTINGS = dict(
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _q(d: Decimal | None, k: int) -> Decimal | None:
    if d is None:
        return None
    return d.quantize(Decimal(1).scaleb(-k), rounding=ROUND_HALF_UP)


@st.composite
def decimals(draw, k: int, int_digits: int = 5):
    """A decimal with up to ``k + 2`` fraction digits (so rounding to
    ``k`` is exercised), biased towards HALF_UP ties at digit k+1."""
    frac = draw(st.integers(min_value=0, max_value=k + 2))
    frac = min(frac, SIG - int_digits)
    unscaled = draw(
        st.integers(min_value=-(10 ** (int_digits + frac)) + 1,
                    max_value=10 ** (int_digits + frac) - 1)
    )
    if frac == k + 1 and draw(st.booleans()):
        unscaled = unscaled - unscaled % 10 + 5  # a tie
    return Decimal(unscaled).scaleb(-frac)


def _column(spark, rows, schema="g int, x double"):
    return spark.createDataFrame(rows, schema)


@settings(max_examples=_ex(25), **SETTINGS)
@given(data=st.data(), k=st.sampled_from([0, 2, 4, 6, 9, 12]))
def test_quantize_is_half_up(spark, data, k):
    values = data.draw(
        st.lists(
            st.one_of(st.none(), decimals(k, max(1, SIG - k - 2))),
            max_size=12,
        )
    )
    df = _column(
        spark, [(0, None if v is None else float(v)) for v in values]
    )
    got = [r[0] for r in df.select(quantize("x", k)).collect()]
    assert got == [_q(v, k) for v in values]
    assert df.select(quantize("x", k)).schema[0].dataType.scale == k


@settings(max_examples=_ex(25), **SETTINGS)
@given(
    data=st.data(),
    k=st.sampled_from([0, 4, 6, 9]),
    groups=st.integers(min_value=1, max_value=4),
)
def test_exact_sum_matches_decimal_model(spark, data, k, groups):
    rows = data.draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=groups - 1),
                st.one_of(st.none(), decimals(k)),
            ),
            max_size=30,
        )
    )
    df = _column(
        spark, [(g, None if v is None else float(v)) for g, v in rows]
    )
    got = {
        r["g"]: r["s"]
        for r in df.groupBy("g").agg(exact_sum("x", k).alias("s")).collect()
    }
    want: dict = {}
    for g, v in rows:
        want.setdefault(g, None)
        if v is not None:
            want[g] = (want[g] or 0) + _q(v, k)
    assert got == want  # an all-null group sums to NULL


def test_exact_sum_of_no_rows_is_null(spark):
    df = _column(spark, [(0, 1.5)]).filter(F.lit(False))
    assert df.agg(exact_sum("x", 6)).collect()[0][0] is None
    assert df.agg(exact_sum_product("x", "x", 6)).collect()[0][0] is None


@settings(max_examples=_ex(25), **SETTINGS)
@given(data=st.data(), k=st.sampled_from([0, 4, 6, 12]))
def test_exact_sum_product_matches_decimal_model(spark, data, k):
    """Second moments and co-moments stay exact up to the widest scale
    a site uses (12), where operands are bounded by 10**6."""
    pair = st.tuples(
        st.one_of(st.none(), decimals(k, 6)), decimals(k, 5)
    )
    rows = data.draw(st.lists(pair, max_size=25))
    df = spark.createDataFrame(
        [(None if x is None else float(x), float(y)) for x, y in rows],
        "x double, y double",
    )
    got = df.agg(
        exact_sum_product("x", "y", k).alias("xy"),
        exact_sum_product("y", "y", k).alias("yy"),
    ).collect()[0]
    terms = [(_q(x, k), _q(y, k)) for x, y in rows]
    with localcontext() as ctx:
        ctx.prec = 80
        xy = [a * b for a, b in terms if a is not None]
        assert got["xy"] == (sum(xy) if xy else None)
        yy = sum(b * b for _, b in terms) if terms else None
    assert got["yy"] == yy


@settings(max_examples=_ex(20), **SETTINGS)
@given(data=st.data(), k=st.sampled_from([6, 8]))
def test_ratio_rounds_once(spark, data, k):
    x = data.draw(decimals(k, 9))
    y = data.draw(decimals(k, 6).filter(lambda d: _q(d, k) != 0))
    df = spark.createDataFrame([(float(x), float(y))], "x double, y double")
    got = df.select(ratio("x", "y", k)).collect()[0][0]
    with localcontext() as ctx:
        ctx.prec = 80
        want = _q(_q(x, k) / _q(y, k), k)
    assert got == want


def test_integer_products_do_not_wrap(spark):
    """Scale 0 lifts longs before multiplying: products past int64
    stay exact instead of wrapping or raising."""
    big = 3_000_000_000
    df = spark.createDataFrame([(big,), (big + 1,)], "n long")
    got = df.agg(
        exact_sum(quantize("n", 0) * F.col("n") * F.col("n"), 0).alias("c"),
        exact_sum_product("n", "n", 0).alias("s"),
    ).collect()[0]
    assert got["c"] == Decimal(big**3 + (big + 1) ** 3)
    assert got["s"] == Decimal(big**2 + (big + 1) ** 2)


@pytest.mark.parametrize(
    "expr, ok, bad",
    [
        # quantize(x, 20) holds 18 integer digits
        (lambda c: quantize(c, 20), 10**18 - 1, 10**18),
        # product operands at scale 12: 7 and 6 integer digits
        (lambda c: exact_sum_product(c, F.lit(1), 12), 10**7 - 1, 10**7),
        (lambda c: exact_sum_product(F.lit(1), c, 12), 10**6 - 1, 10**6),
    ],
)
def test_per_row_overflow_boundary_raises(spark, expr, ok, bad):
    df = spark.createDataFrame([(ok,), (bad,)], "n long")
    assert df.filter(F.col("n") == ok).select(expr(F.col("n"))).collect()
    with pytest.raises(Exception, match="(?i)overflow|out_of_range"):
        df.filter(F.col("n") == bad).select(expr(F.col("n"))).collect()


def test_materialized_sums_persist_as_decimal_28_6(spark, tmp_path):
    """The incremental aggregate's stored sum type is decimal(28,6):
    tables it wrote before keep reading and merging."""
    from component_delta_lake_writer_spark.sinks import ManagedTable
    from component_delta_lake_writer_spark.sinks.materialized import (
        IncrementalAggregate,
    )

    src = ManagedTable(spark, str(tmp_path / "src"))
    schema = "k int, g string, v double"
    src.write(
        spark.createDataFrame([(1, "A", 0.1234565), (2, "B", 2.5)], schema),
        mode="overwrite",
        primary_key=["k"],
    )
    mv = IncrementalAggregate(
        spark, str(tmp_path / "mv"), src, ["g"], {"total": "v"}
    )
    assert mv.refresh() == "full"
    assert mv.table.read().schema["total"].dataType == T.DecimalType(28, 6)
    src.write(
        spark.createDataFrame([(3, "A", 1.0000005)], schema), mode="append"
    )
    assert mv.refresh() == "incremental"
    stored = mv.table.read()
    assert stored.schema["total"].dataType == T.DecimalType(28, 6)
    got = {r["g"]: r["total"] for r in stored.collect()}
    assert got == {"A": Decimal("1.123458"), "B": Decimal("2.500000")}
    pinned = spark.range(1).select(accumulator(F.lit(1), 6)).schema[0]
    assert pinned.dataType == T.DecimalType(28, 6)


def _decimal_width_sites(path) -> list[int]:
    """Lines with a ``"decimal(`` string literal or a ``DecimalType(``
    call in ``path``."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "decimal(" in node.value
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "DecimalType":
                lines.append(node.lineno)
    return sorted(lines)


def test_decimal_widths_live_only_in_functions():
    """Every fixed-point width is chosen by ``functions/`` (the exact
    arithmetic module and the manifest cast mapping); an operator or
    plan asks for a scale, never spells a ``decimal(p,k)`` type."""
    functions = PKG / "functions"
    assert _decimal_width_sites(functions / "exact.py")
    offenders = {
        f"{os.path.relpath(f, REPO)}:{line}"
        for f in sorted(PKG.rglob("*.py"))
        if functions not in f.parents
        for line in _decimal_width_sites(f)
    }
    assert offenders == set(), (
        "use functions.exact (or functions.cast.base_type_to_spark for "
        f"the manifest's DECIMAL types): {sorted(offenders)}"
    )
