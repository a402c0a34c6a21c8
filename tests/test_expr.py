"""GL expression compiler unit tests: truth tables per operator.

Each case evaluates a compiled Column against a tiny in-memory feature
set, checking GL coercion/null semantics (absent key behavior, typed
comparisons, truthiness) — SURVEY §2.2's operator inventory.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vtshaver_spark.errors import FilterError
from vtshaver_spark.functions.expr import (
    FilterContext,
    filter_to_column,
    is_expression_filter,
)

SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), True),
        T.StructField("geom_type", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

ROWS = [
    (1, "Point", {"maki": "cafe", "rank": "3", "flag": "true", "name": "Alpha"}),
    (2, "Point", {"maki": "toilet", "rank": "7", "flag": "false"}),
    (3, "LineString", {"rank": "abc"}),
    (None, "Polygon", {}),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, SCHEMA).cache()


def ids(df, filt, zoom=14.0):
    ctx = FilterContext(zoom=zoom)
    col = filter_to_column(filt, ctx)
    return {
        r["feature_id"]
        for r in df.filter(col).select("feature_id").collect()
    }


# --- legacy ---------------------------------------------------------------

def test_legacy_eq_absent_false(df):
    assert ids(df, ["==", "maki", "cafe"]) == {1}
    assert ids(df, ["==", "missing", "x"]) == set()


def test_legacy_ne_absent_true(df):
    # absent key => true (GL legacy truth table)
    assert ids(df, ["!=", "maki", "cafe"]) == {2, 3, None}


def test_legacy_numeric_compare(df):
    assert ids(df, ["<", "rank", 5]) == {1}
    assert ids(df, [">=", "rank", 3]) == {1, 2}
    # non-numeric value => type mismatch => false (row 3 rank='abc')
    assert ids(df, ["<", "rank", 999]) == {1, 2}


def test_legacy_in_notin(df):
    assert ids(df, ["in", "maki", "cafe", "toilet"]) == {1, 2}
    assert ids(df, ["!in", "maki", "cafe", "toilet"]) == {3, None}
    assert ids(df, ["!in", "missing", "x"]) == {1, 2, 3, None}


def test_legacy_has(df):
    assert ids(df, ["has", "maki"]) == {1, 2}
    assert ids(df, ["!has", "maki"]) == {3, None}
    assert ids(df, ["has", "$id"]) == {1, 2, 3}


def test_legacy_bool_compare(df):
    assert ids(df, ["==", "flag", True]) == {1}
    assert ids(df, ["==", "flag", False]) == {2}


def test_legacy_type_and_id(df):
    assert ids(df, ["==", "$type", "Point"]) == {1, 2}
    assert ids(df, ["!=", "$type", "Point"]) == {3, None}
    assert ids(df, ["==", "$id", 2]) == {2}
    # a literal of the other type is a mismatch, not a failed cast:
    # false for ==, ordered and in, true for != and !in
    every = {1, 2, 3, None}
    assert ids(df, ["==", "$type", 1]) == set()
    assert ids(df, ["!=", "$type", 1]) == every
    assert ids(df, ["==", "$type", True]) == set()
    assert ids(df, ["!=", "$type", False]) == every
    assert ids(df, ["==", "$id", "x"]) == set()
    assert ids(df, ["!=", "$id", "x"]) == every
    assert ids(df, ["<", "$id", "x"]) == set()
    assert ids(df, ["in", "$id", "x", 2]) == {2}
    assert ids(df, ["!in", "$id", "x", True]) == every
    assert ids(df, ["in", "$type", 1, "LineString"]) == {3}


def test_legacy_combinators(df):
    assert ids(df, ["all", ["has", "maki"], ["<", "rank", 5]]) == {1}
    assert ids(df, ["any", ["==", "maki", "cafe"], ["==", "$type", "LineString"]]) == {1, 3}
    assert ids(df, ["none", ["has", "maki"]]) == {3, None}


# --- expressions ----------------------------------------------------------

def test_expr_eq_get(df):
    assert ids(df, ["==", ["get", "maki"], "cafe"]) == {1}
    # expression '!=' with null operand -> false (unlike legacy)
    assert ids(df, ["!=", ["get", "maki"], "cafe"]) == {2}


def test_expr_number_assertion(df):
    assert ids(df, ["<=", ["number", ["get", "rank"]], 3]) == {1}


def test_expr_match(df):
    f = ["match", ["get", "maki"], ["cafe", "toilet"], True, False]
    assert ids(df, f) == {1, 2}
    f = ["match", ["get", "maki"], "cafe", True, False]
    assert ids(df, f) == {1}


def test_expr_case_coalesce(df):
    f = ["case", ["has", "maki"], ["==", ["get", "maki"], "cafe"], False]
    assert ids(df, f) == {1}
    f = ["==", ["coalesce", ["get", "missing"], ["get", "maki"]], "cafe"]
    assert ids(df, f) == {1}


def test_expr_step_zoom(df):
    f = ["step", ["zoom"], ["has", "maki"], 15, ["has", "rank"]]
    assert ids(df, f, zoom=14.0) == {1, 2}
    assert ids(df, f, zoom=15.0) == {1, 2, 3}


def test_expr_to_boolean(df):
    # GL truthiness on strings: false iff null/empty
    assert ids(df, ["to-boolean", ["get", "maki"]]) == {1, 2}


def test_expr_geometry_and_id(df):
    assert ids(df, ["==", ["geometry-type"], "Polygon"]) == {None}
    assert ids(df, ["==", ["id"], 3]) == {3}


def test_expr_string_ops(df):
    assert ids(df, ["==", ["downcase", ["get", "name"]], "alpha"]) == {1}
    assert ids(df, ["==", ["upcase", ["get", "maki"]], "CAFE"]) == {1}
    assert ids(df, ["==", ["concat", ["get", "maki"], "!"], "cafe!"]) == {1}
    # NB: a top-level ["in", ...] filter is always LEGACY by the mbgl
    # dispatch rule; the expression form only occurs nested inside
    # expression context.
    assert ids(df, ["==", ["in", "afe", ["get", "maki"]], True]) == {1}
    assert ids(df, ["==", ["in", ["get", "maki"], ["literal", ["cafe", "bar"]]], True]) == {1}


def test_expr_arithmetic(df):
    assert ids(df, ["==", ["+", ["number", ["get", "rank"]], 1], 4]) == {1}
    assert ids(df, [">", ["*", ["number", ["get", "rank"]], 2], 10]) == {2}
    assert ids(df, ["==", ["length", ["get", "maki"]], 4]) == {1}


def test_expr_let_var(df):
    f = ["let", "r", ["number", ["get", "rank"]], ["<", ["var", "r"], 5]]
    assert ids(df, f) == {1}


def test_expr_number_format(df):
    assert ids(df, ["==", ["number-format", ["get", "rank"], {}], "3"]) == {1}


def test_expr_feature_state_null(df):
    # feature-state has no tile data: evaluates null -> filter false
    assert ids(df, ["==", ["feature-state", "hover"], "x"]) == set()


# --- dispatch parity ------------------------------------------------------

def test_is_expression_filter():
    assert is_expression_filter(["==", ["get", "a"], 1])
    assert not is_expression_filter(["==", "a", 1])
    assert not is_expression_filter(["in", "class", "a", "b"])
    assert not is_expression_filter(["!has", "a"])
    assert is_expression_filter(["match", ["get", "a"], "x", True, False])
    # any/all: expression iff ALL children are expressions
    assert is_expression_filter(["any", ["match", ["get", "a"], "x", True, False]])
    assert not is_expression_filter(
        ["any", ["match", ["get", "a"], "x", True, False], ["==", "a", "b"]]
    )


def test_unsupported_operator_raises():
    with pytest.raises(FilterError):
        filter_to_column(["frobnicate", "x"], FilterContext())


# ---------------------------------------------------------------------------
# round 2: formerly-missing mbgl ops (VERDICT r1 #7) + ADVICE fixes
# ---------------------------------------------------------------------------

def _eval_expr(spark, filt, props=None, geom="Point", fid=1):
    from vtshaver_spark.functions.expr import FilterContext, filter_to_column
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(fid, geom, props or {})],
        "feature_id bigint, geom_type string, props map<string,string>",
    )
    ctx = FilterContext(props="props", geom_type="geom_type",
                        feature_id="feature_id", zoom=14.0)
    return df.filter(filter_to_column(filt, ctx)).count() == 1


def test_format_reduces_to_concat(spark):
    assert _eval_expr(
        spark,
        ["==", ["format", ["get", "a"], {"font-scale": 1.2}, "-x"], "foo-x"],
        {"a": "foo"},
    )


def test_image_equality(spark):
    assert _eval_expr(spark, ["==", ["image", ["get", "icon"]], "cafe-icon"],
                      {"icon": "cafe-icon"})


def test_collator_comparison_ignored(spark):
    assert _eval_expr(
        spark,
        ["==", ["get", "a"], "foo", ["collator", {"case-sensitive": False}]],
        {"a": "foo"},
    )


def test_rgb_to_rgba_roundtrip(spark):
    assert _eval_expr(
        spark, ["==", ["at", 0, ["to-rgba", ["rgb", 255, 0, 127]]], 255], {}
    )
    assert _eval_expr(spark, ["==", ["rgb", 255, 0, 0], "rgba(255,0,0,1)"], {})


def test_array_object_assertions(spark):
    assert _eval_expr(
        spark, ["in", "b", ["array", ["literal", ["a", "b"]]]], {}
    )
    assert _eval_expr(spark, ["==", ["object", ["get", "a"]], "x"], {"a": "x"})


def test_interpolate_exponential(spark):
    # base 2 between stops (0 -> 0, 4 -> 30): at x=2, t=(2^2-1)/(2^4-1)=0.2
    filt = ["==", ["interpolate", ["exponential", 2], ["get", "x"], 0, 0, 4, 30], 6]
    assert _eval_expr(spark, filt, {"x": "2"})


def test_interpolate_hcl_numeric_is_linear(spark):
    # spec form carries the interpolation type tag at position 1, same
    # as plain "interpolate" (GL style-spec; ADVICE r2)
    filt = ["==", ["interpolate-hcl", ["linear"], ["get", "x"], 0, 0, 10, 100], 50]
    assert _eval_expr(spark, filt, {"x": "5"})


def test_interpolate_lab_exponential_tag(spark):
    # exponential tag flows through the color-space form too
    filt = [
        "==",
        ["interpolate-lab", ["exponential", 2], ["get", "x"], 0, 0, 4, 30],
        6,
    ]
    assert _eval_expr(spark, filt, {"x": "2"})


def test_interpolate_hcl_validates_without_session():
    # validator must skip the type tag (not treat 'linear' as an op)
    from vtshaver_spark.functions.expr import validate_filter

    validate_filter(
        ["==", ["interpolate-hcl", ["linear"], ["zoom"], 0, 0, 10, 1], 1]
    )


def test_rendering_context_ops_null_not_error(spark):
    # accumulated/heatmap-density/line-progress evaluate null -> row drops
    for op in ("accumulated", "heatmap-density", "line-progress"):
        assert not _eval_expr(spark, [">", [op], 0], {})


def test_within_respects_holes(spark):
    donut = {
        "type": "Polygon",
        "coordinates": [
            [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
            [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]],
        ],
    }
    from vtshaver_spark.functions.expr import FilterContext, filter_to_column

    df = spark.createDataFrame(
        [(1, "Point", 2.0, 2.0), (2, "Point", 5.0, 5.0)],
        "feature_id bigint, geom_type string, lon double, lat double",
    ).withColumn("props", __import__("pyspark.sql.functions", fromlist=["F"]).create_map())
    ctx = FilterContext(props="props", geom_type="geom_type",
                        feature_id="feature_id", zoom=14.0)
    kept = [
        r["feature_id"]
        for r in df.filter(filter_to_column(["within", donut], ctx)).collect()
    ]
    assert kept == [1]  # the point inside the hole is NOT within


def test_validate_rejects_unknown_nested_op(spark):
    import pytest as _pytest

    from vtshaver_spark.errors import FilterError
    from vtshaver_spark.functions.expr import validate_filter

    with _pytest.raises(FilterError):
        validate_filter(["==", ["get", "a"], ["no-such-op", "x"]])
    # interpolate type tags and match labels must NOT be treated as ops
    validate_filter(["==", ["interpolate", ["linear"], ["zoom"], 0, 0, 10, 1], 1])
    validate_filter(["match", ["get", "c"], ["all", "any"], True, False])


def test_in_expression_with_dynamic_haystack(spark):
    # ADVICE r1: ["in", needle, expression-haystack] is an expression
    assert _eval_expr(
        spark, ["in", "poi", ["downcase", ["get", "t"]]], {"t": "POInt"}
    )


# ---------------------------------------------------------------------------
# feature properties cannot fail the query under ANSI mode
# ---------------------------------------------------------------------------

_ANSI_ROWS = [(1, "Point", {"rank": "1e30", "n": "0"}), (2, "Point", {"rank": "3", "n": "2"})]
_RANK = ["to-number", ["get", "rank"]]
_N = ["to-number", ["get", "n"]]


@pytest.mark.parametrize(
    "filt,want",
    [
        # try_cast to BIGINT, not an overflowing cast
        (["==", ["to-string", _RANK], "3"], {2}),
        (["==", ["number-format", _RANK, {}], "3"], {2}),
        (["==", ["slice", "abcdef", _RANK], "def"], {2}),
        # C++ doubles: 1/0 = Infinity, 1%0 = NaN
        ([">", ["/", 1, _N], 1e308], {1}),
        (["==", ["to-string", ["%", 1, _N]], "NaN"], {1}),
        # out-of-range and negative indexes are NULL, not an error
        (["==", ["at", 5, ["literal", [1, 2]]], 1], set()),
        (["==", ["at", -1, ["literal", [1, 2]]], 2], set()),
    ],
    ids=["to-string", "number-format", "slice", "div-zero", "mod-zero", "at-past-end", "at-negative"],
)
def test_properties_cannot_fail_the_query(spark, filt, want):
    df = spark.createDataFrame(
        _ANSI_ROWS, "feature_id bigint, geom_type string, props map<string,string>"
    )
    got = {r["feature_id"] for r in df.filter(filter_to_column(filt, FilterContext())).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# style strings become SQL literals: escaping
# ---------------------------------------------------------------------------

_HOSTILE = ["it's", "back\\slash", "new\nline", "a -- b", "x' OR true OR 'y"]
_ESCAPE_ROWS = [
    {"feature_id": i, "geom_type": "Point", "props": {s: s}}
    for i, s in enumerate(_HOSTILE, start=1)
] + [
    {"feature_id": 6, "geom_type": "Point", "props": {"x": "y", "k": "v"}},
    {"feature_id": 7, "geom_type": "Point", "props": {"it's": "its", "a -- b": "a"}},
]


@pytest.mark.parametrize("s", _HOSTILE, ids=["quote", "backslash", "newline", "comment", "injection"])
def test_literal_escaping(spark, s):
    from test_property_based import _eval_legacy

    df = spark.createDataFrame(
        [(r["feature_id"], r["geom_type"], r["props"]) for r in _ESCAPE_ROWS],
        "feature_id bigint, geom_type string, props map<string,string>",
    )

    def kept(filt):
        col = filter_to_column(filt, FilterContext())
        return {r["feature_id"] for r in df.filter(col).collect()}

    for filt in (["==", s, s], ["!=", s, s], ["in", s, s, "zzz"], ["!in", s, "zzz"], ["has", s]):
        assert kept(filt) == {r["feature_id"] for r in _ESCAPE_ROWS if _eval_legacy(filt, r)}, filt
    equal = {r["feature_id"] for r in _ESCAPE_ROWS if r["props"].get(s) == s}
    assert len(equal) == 1
    for filt in (
        ["==", ["get", s], s],
        ["in", ["get", s], ["literal", [s, "zzz"]]],
        ["match", ["get", s], s, True, False],
    ):
        assert kept(filt) == equal, filt
