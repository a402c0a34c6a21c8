"""Property-based nets (hypothesis): MVT codec roundtrip under random
inputs, and the legacy-filter compiler vs an independent evaluator of
the GL truth tables (style-spec semantics: absent key => false except
!= / !in / !has => true).

The Spark comparisons batch EVERY generated filter into one job (one
boolean column per filter over a fixed row set) — a per-example Spark
job would be seconds each.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vtshaver_spark.sources.mvt import rows_to_tile, tile_to_rows

# ---------------------------------------------------------------------------
# MVT codec roundtrip
# ---------------------------------------------------------------------------

_key = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
    min_size=1,
    max_size=12,
)
_typed_value = st.one_of(
    st.tuples(st.text(max_size=20), st.just("string")),
    st.tuples(st.integers(min_value=-(2**62), max_value=2**62), st.just("int")),
    st.tuples(st.integers(min_value=0, max_value=2**62), st.just("uint")),
    st.tuples(st.integers(min_value=-(2**61), max_value=2**61), st.just("sint")),
    st.tuples(st.booleans(), st.just("bool")),
    st.tuples(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.just("double"),
    ),
)


def _render(v, tag):
    if tag == "bool":
        return "true" if v else "false"
    if tag == "double":
        return repr(float(v))
    return str(v)


_feature = st.fixed_dictionaries(
    {
        "layer": st.sampled_from(["a", "b", "water-layer", "ünicode"]),
        "feature_id": st.one_of(
            st.none(), st.integers(min_value=0, max_value=2**62)
        ),
        "geom_type": st.sampled_from(["Point", "LineString", "Polygon", "Unknown"]),
        "geometry": st.binary(max_size=16),
        "raw_props": st.dictionaries(_key, _typed_value, max_size=5),
    }
)


@settings(max_examples=80, deadline=None)
@given(st.lists(_feature, max_size=8))
def test_mvt_roundtrip_random(features):
    rows = []
    for f in features:
        props = {k: _render(v, t) for k, (v, t) in f["raw_props"].items()}
        prop_types = {k: t for k, (v, t) in f["raw_props"].items()}
        rows.append(
            {
                "layer": f["layer"],
                "layer_version": 2,
                "layer_extent": 4096,
                "feature_id": f["feature_id"],
                "geom_type": f["geom_type"],
                "geometry": f["geometry"],
                "props": props,
                "prop_types": prop_types,
            }
        )
    out = tile_to_rows(rows_to_tile(rows))

    def key(r):
        return (
            r["layer"],
            -1 if r["feature_id"] is None else r["feature_id"],
            tuple(sorted(r["props"].items())),
            tuple(sorted(r["prop_types"].items())),
            r["geom_type"],
            r["geometry"],
        )

    assert sorted(map(key, out)) == sorted(map(key, rows))


# ---------------------------------------------------------------------------
# legacy filter compiler vs independent truth-table evaluator
# ---------------------------------------------------------------------------

KEYS = ["class", "type", "rank"]
VALUES = ["river", "canal", "park", "", "7", "12"]


def _leaf():
    return st.one_of(
        st.tuples(st.sampled_from(["==", "!="]), st.sampled_from(KEYS), st.sampled_from(VALUES)).map(list),
        st.tuples(st.sampled_from(["<", "<=", ">", ">="]), st.just("rank"), st.sampled_from([3, 7, 12])).map(list),
        st.tuples(st.sampled_from(["in", "!in"]), st.sampled_from(KEYS), st.sampled_from(VALUES), st.sampled_from(VALUES)).map(list),
        st.tuples(st.sampled_from(["has", "!has"]), st.sampled_from(KEYS)).map(list),
        st.tuples(st.just("=="), st.just("$type"), st.sampled_from(["Point", "LineString"])).map(list),
    )


_filter = st.recursive(
    _leaf(),
    lambda children: st.tuples(
        st.sampled_from(["all", "any", "none"]),
        st.lists(children, min_size=1, max_size=3),
    ).map(lambda t: [t[0], *t[1]]),
    max_leaves=6,
)

ROWS = [
    {"feature_id": 1, "geom_type": "Point", "props": {"class": "river", "rank": "7"}},
    {"feature_id": 2, "geom_type": "LineString", "props": {"class": "canal", "type": "park"}},
    {"feature_id": 3, "geom_type": "Polygon", "props": {}},
    {"feature_id": 4, "geom_type": "Point", "props": {"class": "", "rank": "12"}},
    {"feature_id": 5, "geom_type": "LineString", "props": {"rank": "3", "type": ""}},
]


def _eval_legacy(filt, row):
    """Independent GL legacy-filter truth-table evaluator."""
    op = filt[0]
    if op in ("all", "any", "none"):
        vals = [_eval_legacy(c, row) for c in filt[1:]]
        if op == "all":
            return all(vals)
        if op == "any":
            return any(vals)
        return not any(vals)
    key = filt[1]
    if key == "$type":
        present, val = True, row["geom_type"]
    elif key == "$id":
        present, val = True, row["feature_id"]
    else:
        present = key in row["props"]
        val = row["props"].get(key)
    if op == "has":
        return present
    if op == "!has":
        return not present
    if op == "==":
        return present and val == filt[2]
    if op == "!=":
        return (not present) or val != filt[2]
    if op == "in":
        return present and val in filt[2:]
    if op == "!in":
        return (not present) or val not in filt[2:]
    # ordered comparisons: numeric, absent/type-mismatch => false
    if not present:
        return False
    try:
        num = float(val)
    except (TypeError, ValueError):
        return False
    other = float(filt[2])
    return {"<": num < other, "<=": num <= other, ">": num > other, ">=": num >= other}[op]


def test_legacy_filter_truth_tables(spark):
    from pyspark.sql import functions as F

    from vtshaver_spark.functions.expr import FilterContext, filter_to_column

    filters = []
    # deterministic corpus of generated filters via hypothesis's
    # example machinery: sample the strategy space exhaustively-ish
    @settings(max_examples=120, deadline=None, suppress_health_check=list(HealthCheck))
    @given(_filter)
    def collect(f):
        filters.append(f)

    collect()
    df = spark.createDataFrame(
        [(r["feature_id"], r["geom_type"], r["props"]) for r in ROWS],
        "feature_id bigint, geom_type string, props map<string,string>",
    )
    ctx = FilterContext(
        props="props", geom_type="geom_type", feature_id="feature_id", zoom=14.0
    )
    cols = [
        F.coalesce(filter_to_column(f, ctx), F.lit(False)).alias(f"f{i}")
        for i, f in enumerate(filters)
    ]
    out = df.select(F.col("feature_id"), *cols).collect()
    got = {
        (r["feature_id"], i): r[f"f{i}"]
        for r in out
        for i in range(len(filters))
    }
    mismatches = []
    for row in ROWS:
        for i, f in enumerate(filters):
            want = _eval_legacy(f, row)
            if got[(row["feature_id"], i)] != want:
                mismatches.append((row["feature_id"], f, want))
    assert not mismatches, mismatches[:5]
