"""GL filter / expression AST -> PySpark Column compiler.

This is the engine's query language: the same filter language the
reference accepts (legacy filter syntax + GL expression syntax, per the
public Mapbox style-spec), compiled to Catalyst ``Column`` predicates so
filter evaluation runs inside whole-stage codegen — no Python in the
row loop.

Dispatch parity with the reference (mbgl-core conversion, exercised by
/root/reference/test/vtshaver.test.js:697-706): a filter is parsed in
*expression* mode iff ``is_expression_filter`` says so; otherwise the
legacy parser runs, and legacy comparison operators require a plain
string property name — an array there raises the reference's
"filter property must be a string", which ``Filters`` surfaces as
"Unable to create Filter object, ensure all filters are expression-based".

Data model: feature properties live in a ``map<string,string>`` column
(MVT's dynamic key table); numeric/boolean property semantics are
recovered via ``try_cast`` at compile time, mirroring the reference's
value widening (/root/reference/src/shave.cpp:73-78).

GL null semantics encoded here (pinned by reference tests):
 - legacy ``==`` / ``<`` etc: absent key or type mismatch -> false
 - legacy ``!=`` / ``!in``: absent key -> **true** (null-safe negation)
 - expression ``==`` / ``!=``: null operand -> evaluation error -> false
   in filter context (plain SQL null propagation does this for free)
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Callable, Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from vtshaver_spark.errors import FilterError
from vtshaver_spark.errors import MSG_LEGACY_PROPERTY

_LEGACY_COMPARE = ("==", "!=", ">", "<", ">=", "<=")


@dataclass
class FilterContext:
    """Column bindings for filter compilation.

    ``zoom`` may be a Python number (bound per-job, constant-folded by
    Catalyst) or a Column (per-row zoom, e.g. ``F.col("z")``).
    """

    props: str = "props"
    geom_type: str = "geom_type"
    feature_id: str = "feature_id"
    zoom: Union[float, Column] = 0.0
    env: dict = field(default_factory=dict)  # ["let"/"var"] bindings
    # full-geometry ["within"] hook: when set, _op_within calls this
    # with the normalized Polygon/MultiPolygon dict and uses the
    # returned Column as the verdict instead of the row-level point
    # form — shave() binds it to per-feature verdict columns joined
    # from the vertex table (operators/within.feature_within_multi),
    # giving mbgl whole-geometry semantics through the style path
    within_resolver: Optional[Callable[[dict], Column]] = None
    # full-geometry ["distance"] hook: called with (lon, lat) of the
    # literal Point; the returned Column is the per-feature MIN
    # geometry distance in meters (vertex haversine min'd with the
    # point-to-segment interior distance — exact for Point AND
    # LineString features) instead of the row-level point form
    distance_resolver: Optional[Callable[[float, float], Column]] = None

    def zoom_col(self) -> Column:
        if isinstance(self.zoom, Column):
            return self.zoom
        return F.lit(float(self.zoom))

    def prop(self, key: str) -> Column:
        return F.col(self.props)[key]


# ---------------------------------------------------------------------------
# Dispatch: expression vs legacy (mbgl conversion/filter.cpp semantics)
# ---------------------------------------------------------------------------

def is_expression_filter(filt: Any) -> bool:
    if filt is True or filt is False:
        return True
    if not isinstance(filt, list) or len(filt) == 0:
        return False
    op = filt[0]
    if not isinstance(op, str):
        return False
    if op == "has":
        return len(filt) >= 2 and filt[1] not in ("$id", "$type")
    if op == "in":
        # mbgl isExpressionFilter: ["in", needle, haystack] is an
        # expression when the needle is not a key string or the
        # haystack is itself an expression array
        # (test/vtshaver.test.js:957,985 exercises the expression form)
        return len(filt) >= 3 and (
            not isinstance(filt[1], str) or isinstance(filt[2], list)
        )
    if op in ("!in", "!has", "none"):
        return False
    if op in _LEGACY_COMPARE:
        return (
            len(filt) != 3
            or isinstance(filt[1], list)
            or isinstance(filt[2], list)
        )
    if op in ("any", "all"):
        return all(
            isinstance(child, bool) or is_expression_filter(child)
            for child in filt[1:]
        )
    return True


def filter_to_column(filt: Any, ctx: FilterContext) -> Column:
    """Compile a GL filter (either syntax) to a boolean Column.

    The returned predicate treats SQL NULL as "drop" (Spark's
    ``DataFrame.filter`` already does), matching GL's
    evaluation-error -> false behavior at the TOP level. Known
    divergence (documented, not planned): mbgl aborts the whole
    filter on the FIRST evaluation error, so ``["any", <error>,
    true]`` is false there; NULL-propagation gives true here because
    OR(NULL, true) = true. Faithful emulation needs a tri-state
    (value, is_error) pair per subexpression — not worth it for
    filters that are type-errors to begin with. Legacy-syntax truth
    tables are exact (property-tested).
    """
    if filt is True or filt is None:
        return F.lit(True)
    if filt is False:
        return F.lit(False)
    if is_expression_filter(filt):
        return _Expr(ctx).compile_boolean(filt)
    return _compile_legacy(filt, ctx)


def validate_filter(filt: Any) -> None:
    """Parse-only pass (no SparkSession needed): raises FilterError on
    malformed filters with reference-parity messages."""
    ctx = FilterContext(zoom=0.0)
    _walk_validate(filt, ctx)


def _walk_validate(filt: Any, ctx: FilterContext) -> None:
    if filt is True or filt is False or filt is None:
        return
    if not isinstance(filt, list) or len(filt) == 0:
        raise FilterError("filter value must be a non-empty array or boolean")
    if is_expression_filter(filt):
        _ExprValidate(ctx).compile_boolean(filt)
        return
    op = filt[0]
    if op in ("all", "any", "none"):
        for child in filt[1:]:
            if isinstance(child, bool):
                continue
            if not isinstance(child, list):
                raise FilterError(MSG_LEGACY_PROPERTY)
            _validate_legacy(child)
        return
    _validate_legacy(filt)


def _validate_legacy(filt: list) -> None:
    if len(filt) == 0 or not isinstance(filt[0], str):
        raise FilterError("filter operator must be a string")
    op = filt[0]
    if op in ("all", "any", "none"):
        for child in filt[1:]:
            if isinstance(child, bool):
                continue
            if not isinstance(child, list):
                raise FilterError(MSG_LEGACY_PROPERTY)
            _validate_legacy(child)
        return
    if op in _LEGACY_COMPARE or op in ("in", "!in"):
        if len(filt) < 2 or not isinstance(filt[1], str):
            raise FilterError(MSG_LEGACY_PROPERTY)
        return
    if op in ("has", "!has"):
        if len(filt) < 2 or not isinstance(filt[1], str):
            raise FilterError(MSG_LEGACY_PROPERTY)
        return
    raise FilterError(f"filter operator '{op}' is not supported")


# ---------------------------------------------------------------------------
# Legacy filter syntax
# ---------------------------------------------------------------------------

def _typed_eq(prop: Column, value: Any, null_safe: bool) -> Column:
    """One typed equality term. ``null_safe`` uses <=> (never NULL)."""
    if isinstance(value, (list, dict)):
        raise FilterError("filter value must be a string, number, or boolean")
    if isinstance(value, bool):
        lit = F.lit("true" if value else "false")
    elif isinstance(value, (int, float)):
        prop = prop.try_cast("double")
        lit = F.lit(float(value))
    else:
        lit = F.lit(value)
    return prop.eqNullSafe(lit) if null_safe else (prop == lit)


def _compile_legacy(filt: Any, ctx: FilterContext) -> Column:
    if isinstance(filt, bool):
        return F.lit(filt)
    if not isinstance(filt, list) or len(filt) == 0:
        raise FilterError("filter value must be a non-empty array or boolean")
    op = filt[0]
    if not isinstance(op, str):
        raise FilterError("filter operator must be a string")

    if op in ("all", "any", "none"):
        children = [_compile_legacy(c, ctx) for c in filt[1:]]
        if not children:
            # empty ["all"] is true, empty ["any"] is false (GL spec)
            return F.lit(op == "all")
        if op == "all":
            out = children[0]
            for c in children[1:]:
                out = out & c
            return out
        out = children[0]
        for c in children[1:]:
            out = out | c
        return ~out if op == "none" else out

    if op in _LEGACY_COMPARE:
        if len(filt) != 3 or not isinstance(filt[1], str):
            raise FilterError(MSG_LEGACY_PROPERTY)
        key, value = filt[1], filt[2]
        lhs = _legacy_key_col(key, ctx)
        if key == "$type":
            eq = F.coalesce(lhs == F.lit(value), F.lit(False))
            if op == "==":
                return eq
            if op == "!=":
                return ~lhs.eqNullSafe(F.lit(value))
            raise FilterError("ordered comparison not supported on $type")
        if key == "$id" and isinstance(value, (int, float)) and not isinstance(value, bool):
            rhs: Column = F.lit(value)
        elif isinstance(value, bool):
            rhs = F.lit("true" if value else "false")
        elif isinstance(value, (int, float)):
            lhs = lhs.try_cast("double")
            rhs = F.lit(float(value))
        else:
            rhs = F.lit(value)
        # absent key (or type-mismatch cast -> NULL) is FALSE for ==
        # and ordered comparisons, TRUE only for != (GL truth tables).
        # A bare Column comparison yields NULL instead, which is
        # indistinguishable from false under a top-level filter() but
        # WRONG once negated inside none/!/any (caught by the
        # property-based truth-table net).
        if op == "==":
            return F.coalesce(lhs == rhs, F.lit(False))
        if op == "!=":
            return ~lhs.eqNullSafe(rhs)  # absent key => true
        if op == "<":
            return F.coalesce(lhs < rhs, F.lit(False))
        if op == "<=":
            return F.coalesce(lhs <= rhs, F.lit(False))
        if op == ">":
            return F.coalesce(lhs > rhs, F.lit(False))
        return F.coalesce(lhs >= rhs, F.lit(False))

    if op in ("in", "!in"):
        if len(filt) < 2 or not isinstance(filt[1], str):
            raise FilterError(MSG_LEGACY_PROPERTY)
        key = filt[1]
        values = filt[2:]
        lhs = _legacy_key_col(key, ctx)
        terms = [_typed_eq(lhs, v, null_safe=True) for v in values]
        if not terms:
            membership = F.lit(False)
        else:
            membership = terms[0]
            for t in terms[1:]:
                membership = membership | t
        return ~membership if op == "!in" else membership

    if op in ("has", "!has"):
        if len(filt) < 2 or not isinstance(filt[1], str):
            raise FilterError(MSG_LEGACY_PROPERTY)
        key = filt[1]
        if key == "$id":
            existence = F.col(ctx.feature_id).isNotNull()
        elif key == "$type":
            existence = F.lit(True)
        else:
            existence = F.map_contains_key(F.col(ctx.props), key)
        return ~existence if op == "!has" else existence

    raise FilterError(f"filter operator '{op}' is not supported")


def _legacy_key_col(key: str, ctx: FilterContext) -> Column:
    if key == "$type":
        return F.col(ctx.geom_type)
    if key == "$id":
        return F.col(ctx.feature_id)
    return ctx.prop(key)


# ---------------------------------------------------------------------------
# Expression syntax
# ---------------------------------------------------------------------------

_NUMBER_OPS = frozenset(
    {
        "zoom", "number", "to-number", "+", "-", "*", "/", "%", "^", "sqrt",
        "log10", "ln", "log2", "sin", "cos", "tan", "asin", "acos", "atan",
        "min", "max", "abs", "round", "floor", "ceil", "length", "id",
        "index-of", "ln2", "pi", "e",
    }
)
_STRING_OPS = frozenset(
    {
        "geometry-type", "string", "to-string", "concat", "downcase",
        "upcase", "number-format", "slice", "format", "image", "rgb",
        "rgba", "to-color",
    }
)
_BOOLEAN_OPS = frozenset(
    {
        "boolean", "to-boolean", "==", "!=", ">", "<", ">=", "<=", "all",
        "any", "!", "has", "in", "within",
    }
)


class _Expr:
    """Recursive-descent compiler: GL expression -> Column.

    Tracks a light-weight type tag per node ('number' | 'string' |
    'boolean' | 'value' | 'array' | 'null') to drive comparison
    coercion against the string-typed property map.
    """

    def __init__(self, ctx: FilterContext):
        self.ctx = ctx
        self.env: dict = dict(ctx.env)

    # -- public ------------------------------------------------------------
    def compile_boolean(self, e: Any) -> Column:
        col, _ = self.compile(e)
        return col

    # -- type inference ----------------------------------------------------
    def infer(self, e: Any) -> str:
        if isinstance(e, bool):
            return "boolean"
        if isinstance(e, (int, float)):
            return "number"
        if isinstance(e, str):
            return "string"
        if e is None:
            return "null"
        if not isinstance(e, list) or not e or not isinstance(e[0], str):
            return "value"
        op = e[0]
        if op in _NUMBER_OPS:
            return "number"
        if op in _STRING_OPS:
            return "string"
        if op in _BOOLEAN_OPS:
            return "boolean"
        if op == "literal":
            return self.infer(e[1]) if len(e) > 1 and not isinstance(e[1], list) else "array"
        if op in ("match", "case"):
            # type of the first output branch
            if op == "match" and len(e) >= 4:
                return self.infer(e[3])
            if op == "case" and len(e) >= 3:
                return self.infer(e[2])
            return "value"
        if op == "step" and len(e) >= 3:
            return self.infer(e[2])
        if op == "coalesce" and len(e) >= 2:
            return self.infer(e[1])
        if op == "interpolate":
            return "number"
        if op == "var":
            bound = self.env.get(e[1]) if len(e) > 1 else None
            return bound[1] if bound else "value"
        return "value"

    # -- core --------------------------------------------------------------
    def compile(self, e: Any) -> tuple:
        """Returns (Column, type_tag)."""
        if isinstance(e, bool):
            return F.lit(e), "boolean"
        if isinstance(e, (int, float)):
            return F.lit(float(e) if isinstance(e, float) else e), "number"
        if isinstance(e, str):
            return F.lit(e), "string"
        if e is None:
            return F.lit(None), "null"
        if not isinstance(e, list) or len(e) == 0:
            raise FilterError(f"invalid expression: {e!r}")
        op = e[0]
        if not isinstance(op, str):
            raise FilterError(f"invalid expression operator: {op!r}")
        method = getattr(self, "_op_" + _py_name(op), None)
        if method is None:
            raise FilterError(f"expression operator '{op}' is not supported")
        return method(e)

    # -- coercion helpers --------------------------------------------------
    def as_number(self, e: Any) -> Column:
        col, tag = self.compile(e)
        if tag == "number":
            return col
        return col.try_cast("double")

    def as_string(self, e: Any) -> Column:
        col, tag = self.compile(e)
        if tag == "string":
            return col
        return col.cast("string")

    def as_boolean(self, e: Any) -> Column:
        col, tag = self.compile(e)
        if tag == "boolean":
            return col
        if tag in ("string", "value"):
            return F.when(col == "true", F.lit(True)).when(
                col == "false", F.lit(False)
            )
        return col.cast("boolean")

    # -- literals / lookups ------------------------------------------------
    def _op_literal(self, e: list):
        v = e[1] if len(e) > 1 else None
        if isinstance(v, list):
            return F.array([F.lit(x) for x in v]), "array"
        col, tag = self.compile(v)
        return col, tag

    def _op_get(self, e: list):
        if len(e) != 2 or not isinstance(e[1], str):
            raise FilterError("'get' expects a single string key")
        return self.ctx.prop(e[1]), "value"

    def _op_has(self, e: list):
        if len(e) != 2 or not isinstance(e[1], str):
            raise FilterError("'has' expects a single string key")
        return F.map_contains_key(F.col(self.ctx.props), e[1]), "boolean"

    def _op_properties(self, e: list):
        return F.col(self.ctx.props), "value"

    def _op_feature_state(self, e: list):
        # Rendering-time state: never present in tile data; evaluates null
        # (reference parity: collected as a property but unevaluable —
        # lib/styleToFilters.js:190).
        return F.lit(None).cast("string"), "null"

    def _op_geometry_type(self, e: list):
        return F.col(self.ctx.geom_type), "string"

    def _op_id(self, e: list):
        return F.col(self.ctx.feature_id), "number"

    def _op_zoom(self, e: list):
        return self.ctx.zoom_col(), "number"

    # -- decision ----------------------------------------------------------
    def _op_match(self, e: list):
        if len(e) < 5 or len(e) % 2 == 0:
            raise FilterError("'match' expects input, label/output pairs, fallback")
        input_col, input_tag = self.compile(e[1])
        pairs = e[2:-1]
        fallback = e[-1]
        out_tag = self.infer(e[3])
        result = None
        for i in range(0, len(pairs), 2):
            labels = pairs[i]
            output = pairs[i + 1]
            if not isinstance(labels, list):
                labels = [labels]
            numeric = any(
                isinstance(l, (int, float)) and not isinstance(l, bool)
                for l in labels
            )
            probe = input_col.try_cast("double") if (numeric and input_tag != "number") else input_col
            lits = [
                F.lit(float(l))
                if numeric and isinstance(l, (int, float)) and not isinstance(l, bool)
                else F.lit(l)
                for l in labels
            ]
            cond = probe.isin(*lits) if len(lits) > 1 else probe.eqNullSafe(lits[0])
            out_col, _ = self.compile(output)
            result = (
                F.when(cond, out_col)
                if result is None
                else result.when(cond, out_col)
            )
        fb_col, _ = self.compile(fallback)
        return result.otherwise(fb_col), out_tag

    def _op_case(self, e: list):
        if len(e) < 4 or len(e) % 2 != 0:
            raise FilterError("'case' expects cond/output pairs plus fallback")
        out_tag = self.infer(e[2])
        result = None
        body = e[1:-1]
        for i in range(0, len(body), 2):
            cond = self.as_boolean(body[i])
            out_col, _ = self.compile(body[i + 1])
            result = (
                F.when(cond, out_col) if result is None else result.when(cond, out_col)
            )
        fb_col, _ = self.compile(e[-1])
        return result.otherwise(fb_col), out_tag

    def _op_step(self, e: list):
        if len(e) < 3:
            raise FilterError("'step' expects input, base output, stops")
        input_col = self.as_number(e[1])
        out_tag = self.infer(e[2])
        base, _ = self.compile(e[2])
        stops = e[3:]
        if not stops:
            return base, out_tag
        result = F.when(input_col < F.lit(float(stops[0])), base)
        for i in range(0, len(stops) - 2, 2):
            upper = float(stops[i + 2])
            out_col, _ = self.compile(stops[i + 1])
            result = result.when(input_col < F.lit(upper), out_col)
        last_col, _ = self.compile(stops[-1])
        return result.otherwise(last_col), out_tag

    def _op_interpolate(self, e: list):
        """["interpolate", type, input, stop, out, ...].

        linear and ["exponential", base] follow the GL style-spec
        interpolation-factor formulas exactly; cubic-bezier eases the
        same endpoints, so for predicate purposes (comparisons against
        stop outputs) it is evaluated as linear — a documented
        approximation, never an error (reference accepts any
        mbgl-valid filter, src/filters.cpp:108-121).
        """
        if len(e) < 5:
            raise FilterError("'interpolate' expects type, input, stops")
        itype = e[1]
        if not isinstance(itype, list) or not itype or itype[0] not in (
            "linear", "exponential", "cubic-bezier"
        ):
            raise FilterError(
                "'interpolate' type must be linear/exponential/cubic-bezier"
            )
        base_b = float(itype[1]) if itype[0] == "exponential" and len(itype) > 1 else 1.0
        input_col = self.as_number(e[2])
        stops = e[3:]
        xs = [float(stops[i]) for i in range(0, len(stops), 2)]
        ys = [self.as_number(stops[i + 1]) for i in range(0, len(stops), 2)]
        acc = F.when(input_col <= F.lit(xs[0]), ys[0])
        for i in range(len(xs) - 1):
            x0, x1 = xs[i], xs[i + 1]
            if base_b != 1.0:
                # GL exponential interpolation factor:
                # (b^(x-x0) - 1) / (b^(x1-x0) - 1)
                frac = (F.pow(F.lit(base_b), input_col - F.lit(x0)) - F.lit(1.0)) / F.lit(
                    base_b ** (x1 - x0) - 1.0
                )
            else:
                frac = (input_col - F.lit(x0)) / F.lit(x1 - x0)
            seg = ys[i] + frac * (ys[i + 1] - ys[i])
            acc = acc.when(input_col < F.lit(x1), seg)
        return acc.otherwise(ys[-1]), "number"

    def _interpolate_color_space(self, e: list):
        """interpolate-hcl / interpolate-lab: color-space interpolation
        between (typically color) stop outputs, spec form
        ["interpolate-hcl", <type-tag>, input, stop, out, ...] — the
        same signature as "interpolate" (type tag at e[1]). Numeric
        outputs evaluate via the tagged interpolation (identical in any
        color space); color-string outputs degrade to the lower stop's
        value (nearest-stop) — documented approximation so mbgl-valid
        styles never hard-error here."""
        if len(e) < 5:
            raise FilterError("'interpolate' expects type, input, stops")
        itype = e[1]
        if not isinstance(itype, list) or not itype or itype[0] not in (
            "linear", "exponential", "cubic-bezier"
        ):
            raise FilterError(
                "'interpolate' type must be linear/exponential/cubic-bezier"
            )
        stops = e[3:]
        out_tag = self.infer(stops[1]) if len(stops) > 1 else "value"
        if out_tag == "number":
            return self._op_interpolate(["interpolate", *e[1:]])
        input_col = self.as_number(e[2])
        xs = [float(stops[i]) for i in range(0, len(stops), 2)]
        ys = [self.compile(stops[i + 1])[0] for i in range(0, len(stops), 2)]
        acc = F.when(input_col <= F.lit(xs[0]), ys[0])
        for i in range(len(xs) - 1):
            acc = acc.when(input_col < F.lit(xs[i + 1]), ys[i])
        return acc.otherwise(ys[-1]), out_tag

    def _op_interpolate_hcl(self, e: list):
        return self._interpolate_color_space(e)

    def _op_interpolate_lab(self, e: list):
        return self._interpolate_color_space(e)

    # -- formatting / rich types. mbgl passes any valid expression
    #    through the reference untouched (src/filters.cpp:108-121);
    #    these are their filter-context reductions. ----------------------
    def _op_format(self, e: list):
        """["format", input, opts?, input, opts?, ...] -> concatenated
        text (style dicts only affect rendering)."""
        parts = [self.as_string(sub) for sub in e[1:] if not isinstance(sub, dict)]
        if not parts:
            return F.lit(""), "string"
        return F.concat(*parts), "string"

    def _op_image(self, e: list):
        # ResolvedImage reduces to its name for equality/truthiness
        if len(e) < 2:
            raise FilterError("'image' expects a name argument")
        return self.as_string(e[1]), "string"

    def _op_collator(self, e: list):
        # comparison operators accept-and-ignore a collator operand
        # (case/locale-sensitive compare is a rendering nicety)
        return F.lit(True), "collator"

    def _color_string(self, comps: list) -> Column:
        rendered = [_number_to_string(c) for c in comps]
        return F.concat(
            F.lit("rgba("),
            rendered[0], F.lit(","), rendered[1], F.lit(","), rendered[2],
            F.lit(","), rendered[3], F.lit(")"),
        )

    def _op_rgb(self, e: list):
        if len(e) != 4:
            raise FilterError("'rgb' expects 3 arguments")
        comps = [self.as_number(sub) for sub in e[1:]] + [F.lit(1.0)]
        return self._color_string(comps), "string"

    def _op_rgba(self, e: list):
        if len(e) != 5:
            raise FilterError("'rgba' expects 4 arguments")
        return self._color_string([self.as_number(sub) for sub in e[1:]]), "string"

    def _op_to_color(self, e: list):
        # colors stay in their string form; first convertible argument
        cols = [self.as_string(sub) for sub in e[1:]]
        if not cols:
            raise FilterError("'to-color' expects at least one argument")
        return F.coalesce(*cols), "string"

    def _op_to_rgba(self, e: list):
        # parse the canonical "rgba(r,g,b,a)" rendering into numbers
        s = self.as_string(e[1])
        inner = F.regexp_extract(s, r"rgba?\(([^)]*)\)", 1)
        return (
            F.transform(F.split(inner, ","), lambda x: x.cast("double")),
            "array",
        )

    def _op_array(self, e: list):
        # type assertion: ["array", v] / ["array", type, v] /
        # ["array", type, N, v] — value passes through
        if len(e) < 2:
            raise FilterError("'array' expects a value")
        col, _ = self.compile(e[-1])
        return col, "array"

    def _op_object(self, e: list):
        if len(e) < 2:
            raise FilterError("'object' expects a value")
        return self.compile(e[1])

    # rendering-context inputs with no tile-data meaning: evaluate null
    # (GL: evaluation error -> filter false), never a compile error
    def _op_accumulated(self, e: list):
        return F.lit(None).cast("double"), "number"

    def _op_heatmap_density(self, e: list):
        return F.lit(None).cast("double"), "number"

    def _op_line_progress(self, e: list):
        return F.lit(None).cast("double"), "number"

    def _op_coalesce(self, e: list):
        cols = [self.compile(sub)[0] for sub in e[1:]]
        return F.coalesce(*cols), self.infer(e[1]) if len(e) > 1 else "value"

    def _op_let(self, e: list):
        if len(e) < 4 or len(e) % 2 != 0:
            raise FilterError("'let' expects name/value pairs plus result")
        for i in range(1, len(e) - 1, 2):
            name = e[i]
            col, tag = self.compile(e[i + 1])
            self.env[name] = (col, tag)
        return self.compile(e[-1])

    def _op_var(self, e: list):
        name = e[1] if len(e) > 1 else None
        if name not in self.env:
            raise FilterError(f"unbound variable '{name}'")
        return self.env[name]

    # -- boolean -----------------------------------------------------------
    def _op_all(self, e: list):
        cols = [self.as_boolean(sub) for sub in e[1:]]
        if not cols:
            return F.lit(True), "boolean"
        out = cols[0]
        for c in cols[1:]:
            out = out & c
        return out, "boolean"

    def _op_any(self, e: list):
        cols = [self.as_boolean(sub) for sub in e[1:]]
        if not cols:
            return F.lit(False), "boolean"
        out = cols[0]
        for c in cols[1:]:
            out = out | c
        return out, "boolean"

    def _op_not(self, e: list):
        return ~self.as_boolean(e[1]), "boolean"

    # -- comparison --------------------------------------------------------
    def _comparison(self, e: list, op: str):
        if len(e) < 3:
            raise FilterError(f"'{op}' expects two operands")
        a, b = e[1], e[2]
        ta, tb = self.infer(a), self.infer(b)
        if "number" in (ta, tb):
            ca, cb = self.as_number(a), self.as_number(b)
        elif "boolean" in (ta, tb):
            ca, cb = self.as_boolean(a), self.as_boolean(b)
        else:
            ca, cb = self.as_string(a), self.as_string(b)
        if op == "==":
            return ca == cb, "boolean"
        if op == "!=":
            # GL expression '!=' with a null operand is an evaluation
            # error -> false in filter context; plain != gives NULL which
            # DataFrame.filter drops. (Legacy '!=' differs: see
            # _compile_legacy.)
            return ca != cb, "boolean"
        if op == "<":
            return ca < cb, "boolean"
        if op == "<=":
            return ca <= cb, "boolean"
        if op == ">":
            return ca > cb, "boolean"
        return ca >= cb, "boolean"

    def _op_eq(self, e: list):
        return self._comparison(e, "==")

    def _op_ne(self, e: list):
        return self._comparison(e, "!=")

    def _op_lt(self, e: list):
        return self._comparison(e, "<")

    def _op_le(self, e: list):
        return self._comparison(e, "<=")

    def _op_gt(self, e: list):
        return self._comparison(e, ">")

    def _op_ge(self, e: list):
        return self._comparison(e, ">=")

    # -- membership / strings ----------------------------------------------
    def _op_in(self, e: list):
        if len(e) != 3:
            raise FilterError("'in' expression expects needle and haystack")
        needle, haystack = e[1], e[2]
        if isinstance(haystack, list) and haystack and haystack[0] == "literal":
            values = haystack[1] if len(haystack) > 1 else []
            if isinstance(values, list):
                numeric = any(
                    isinstance(v, (int, float)) and not isinstance(v, bool)
                    for v in values
                )
                probe = self.as_number(needle) if numeric else self.as_string(needle)
                lits = [
                    F.lit(float(v))
                    if numeric and isinstance(v, (int, float)) and not isinstance(v, bool)
                    else F.lit(v)
                    for v in values
                ]
                return probe.isin(*lits) if lits else F.lit(False), "boolean"
            return F.contains(F.lit(str(values)), self.as_string(needle)), "boolean"
        hay_col, hay_tag = self.compile(haystack)
        if hay_tag == "array":
            return F.array_contains(hay_col, self.compile(needle)[0]), "boolean"
        return F.contains(hay_col.cast("string"), self.as_string(needle)), "boolean"

    def _op_index_of(self, e: list):
        hay = self.as_string(e[2])
        needle = self.as_string(e[1])
        return F.instr(hay, needle) - F.lit(1), "number"

    def _op_slice(self, e: list):
        s = self.as_string(e[1])
        start = self.as_number(e[2]).cast("int") + F.lit(1)
        if len(e) > 3:
            end = self.as_number(e[3]).cast("int")
            return F.substr(s, start, end - start + F.lit(1)), "string"
        return F.substr(s, start), "string"

    def _op_concat(self, e: list):
        return F.concat(*[self.as_string(sub) for sub in e[1:]]), "string"

    def _op_downcase(self, e: list):
        return F.lower(self.as_string(e[1])), "string"

    def _op_upcase(self, e: list):
        return F.upper(self.as_string(e[1])), "string"

    def _op_length(self, e: list):
        col, tag = self.compile(e[1])
        if tag == "array":
            return F.array_size(col), "number"
        return F.length(col.cast("string")), "number"

    def _op_at(self, e: list):
        idx = self.as_number(e[1]).cast("int") + F.lit(1)
        arr, _ = self.compile(e[2])
        return F.element_at(arr, idx), "value"

    def _op_number_format(self, e: list):
        # Reference parity: basic to-string, options ignored
        # (/root/reference/CHANGELOG.md:7 — "simple version ... which
        # converts a number to a string, ignoring all the options").
        n = self.as_number(e[1])
        return _number_to_string(n), "string"

    # -- type conversion ---------------------------------------------------
    def _op_to_boolean(self, e: list):
        col, tag = self.compile(e[1])
        if tag == "number":
            return col.isNotNull() & (col != 0) & ~F.isnan(col), "boolean"
        if tag == "boolean":
            return F.coalesce(col, F.lit(False)), "boolean"
        # string / value: false iff null or "" (GL truthiness; exercised by
        # /root/reference/test/vtshaver.test.js:446)
        s = col.cast("string")
        return s.isNotNull() & (s != ""), "boolean"

    def _op_to_number(self, e: list):
        return self.as_number(e[1]), "number"

    def _op_to_string(self, e: list):
        col, tag = self.compile(e[1])
        if tag == "number":
            return _number_to_string(col), "string"
        return col.cast("string"), "string"

    def _op_number(self, e: list):
        # assertion: first castable argument wins
        cols = [self.as_number(sub) for sub in e[1:]]
        return (F.coalesce(*cols) if len(cols) > 1 else cols[0]), "number"

    def _op_string(self, e: list):
        cols = [self.as_string(sub) for sub in e[1:]]
        return (F.coalesce(*cols) if len(cols) > 1 else cols[0]), "string"

    def _op_boolean(self, e: list):
        cols = [self.as_boolean(sub) for sub in e[1:]]
        return (F.coalesce(*cols) if len(cols) > 1 else cols[0]), "boolean"

    def _op_typeof(self, e: list):
        col, tag = self.compile(e[1])
        if tag in ("number", "string", "boolean"):
            return F.lit(tag), "string"
        return (
            F.when(col.isNull(), "null")
            .when(col.try_cast("double").isNotNull(), "number")
            .otherwise("string")
        ), "string"

    # -- math ---------------------------------------------------------------
    def _binary_math(self, e: list, fn):
        cols = [self.as_number(sub) for sub in e[1:]]
        out = cols[0]
        for c in cols[1:]:
            out = fn(out, c)
        return out, "number"

    def _op_plus(self, e: list):
        return self._binary_math(e, lambda a, b: a + b)

    def _op_times(self, e: list):
        return self._binary_math(e, lambda a, b: a * b)

    def _op_minus(self, e: list):
        if len(e) == 2:
            return -self.as_number(e[1]), "number"
        return self._binary_math(e, lambda a, b: a - b)

    def _op_div(self, e: list):
        return self._binary_math(e, lambda a, b: a / b)

    def _op_mod(self, e: list):
        return self._binary_math(e, lambda a, b: a % b)

    def _op_pow(self, e: list):
        return F.pow(self.as_number(e[1]), self.as_number(e[2])), "number"

    def _op_sqrt(self, e: list):
        return F.sqrt(self.as_number(e[1])), "number"

    def _op_abs(self, e: list):
        return F.abs(self.as_number(e[1])), "number"

    def _op_round(self, e: list):
        return F.round(self.as_number(e[1]), 0), "number"

    def _op_floor(self, e: list):
        return F.floor(self.as_number(e[1])).cast("double"), "number"

    def _op_ceil(self, e: list):
        return F.ceil(self.as_number(e[1])).cast("double"), "number"

    def _op_min(self, e: list):
        return F.least(*[self.as_number(s) for s in e[1:]]), "number"

    def _op_max(self, e: list):
        return F.greatest(*[self.as_number(s) for s in e[1:]]), "number"

    def _op_ln(self, e: list):
        return F.log(self.as_number(e[1])), "number"

    def _op_log10(self, e: list):
        return F.log10(self.as_number(e[1])), "number"

    def _op_log2(self, e: list):
        return F.log2(self.as_number(e[1])), "number"

    def _op_sin(self, e: list):
        return F.sin(self.as_number(e[1])), "number"

    def _op_cos(self, e: list):
        return F.cos(self.as_number(e[1])), "number"

    def _op_tan(self, e: list):
        return F.tan(self.as_number(e[1])), "number"

    def _op_asin(self, e: list):
        return F.asin(self.as_number(e[1])), "number"

    def _op_acos(self, e: list):
        return F.acos(self.as_number(e[1])), "number"

    def _op_atan(self, e: list):
        return F.atan(self.as_number(e[1])), "number"

    def _op_ln2(self, e: list):
        return F.lit(math.log(2.0)), "number"

    def _op_pi(self, e: list):
        return F.lit(math.pi), "number"

    def _op_e(self, e: list):
        return F.lit(math.e), "number"

    # -- geometry expressions ------------------------------------------------
    def _op_within(self, e: list):
        """["within", geojson] — row-level form: true when the row's
        lon/lat point lies in the literal Polygon (even-odd ray cast
        unrolled into fixed Column expressions per edge — codegen'd,
        no UDF; functions/geo.point_in_polygon_col). mbgl evaluates
        the WHOLE feature geometry (all points of a LineString, plus
        no boundary crossing — reference accepts it via
        src/filters.cpp:108-121); that full-geometry form works on
        decoded vertex rows: operators/within.feature_within."""
        if len(e) != 2 or not isinstance(e[1], dict):
            raise FilterError("'within' expects a GeoJSON object")
        geom = e[1]
        if geom.get("type") == "Feature":
            geom = geom.get("geometry", {})
        if geom.get("type") not in ("Polygon", "MultiPolygon"):
            raise FilterError("'within' supports Polygon/MultiPolygon only")
        if self.ctx.within_resolver is not None:
            # full-geometry route: shave() joins per-feature verdicts
            # computed over the vertex table and hands back the bound
            # verdict Column (mbgl whole-geometry semantics)
            return self.ctx.within_resolver(geom), "boolean"
        from vtshaver_spark.functions.geo import point_in_polygon_col

        return point_in_polygon_col(F.col("lon"), F.col("lat"), geom), "boolean"

    def _op_distance(self, e: list):
        """["distance", geojson Point] — meters from the feature's point
        to the literal point (haversine, pure Column math)."""
        if len(e) != 2 or not isinstance(e[1], dict):
            raise FilterError("'distance' expects a GeoJSON object")
        geom = e[1]
        if geom.get("type") == "Feature":
            geom = geom.get("geometry", {})
        if geom.get("type") != "Point":
            raise FilterError("'distance' supports Point geometry only")
        glon, glat = geom["coordinates"][:2]
        if self.ctx.distance_resolver is not None:
            # full-geometry route: per-feature MIN vertex distance
            # bound by shave() from the vertex table
            return self.ctx.distance_resolver(float(glon), float(glat)), "number"
        from vtshaver_spark.functions.geo import haversine_m

        return haversine_m(F.col("lon"), F.col("lat"), F.lit(float(glon)), F.lit(float(glat))), "number"

    # -- locale/script ops (no tile data; GL-spec defaults) ------------------
    def _op_is_supported_script(self, e: list):
        return F.lit(True), "boolean"

    def _op_resolved_locale(self, e: list):
        return F.lit("en"), "string"

    # -- rendering-context no-ops (rewritten at style compile; kept for
    #    direct API users) --------------------------------------------------
    def _op_pitch(self, e: list):
        return F.lit(None).cast("double"), "number"

    def _op_distance_from_center(self, e: list):
        return F.lit(None).cast("double"), "number"


class _ExprValidate(_Expr):
    """Shares the parser with _Expr but never touches Spark: every
    compile returns an inert placeholder, so Filters construction can
    validate styles without a SparkSession."""

    def compile(self, e: Any):  # noqa: D102
        if isinstance(e, bool):
            return None, "boolean"
        if isinstance(e, (int, float)):
            return None, "number"
        if isinstance(e, str):
            return None, "string"
        if e is None:
            return None, "null"
        if not isinstance(e, list) or len(e) == 0:
            raise FilterError(f"invalid expression: {e!r}")
        op = e[0]
        if not isinstance(op, str):
            raise FilterError(f"invalid expression operator: {op!r}")
        if _py_name(op) not in _VALID_OPS:
            raise FilterError(f"expression operator '{op}' is not supported")
        _validate_arity(op, e)
        # Recurse by argument POSITION, not by op-name membership: a
        # nested list is an expression unless this operator treats that
        # position as a literal (reference rejects unknown nested ops at
        # Filters construction; ADVICE r1). Literal positions:
        #   literal -> payload; match -> label positions (2, 4, ...,
        #   excluding outputs and the fallback); let -> name strings
        #   (not lists anyway); within/distance -> GeoJSON dicts.
        if op == "literal":
            return None, self.infer(e)
        skip = set()
        if op == "match":
            skip = set(range(2, len(e) - 1, 2))
        elif op in ("interpolate", "interpolate-hcl", "interpolate-lab"):
            skip = {1}  # the ["linear"]/["exponential", b] type tag
        for i, sub in enumerate(e[1:], start=1):
            if i in skip or isinstance(sub, dict):
                continue
            if isinstance(sub, list):
                self.compile(sub)
        return None, self.infer(e)

    def as_number(self, e: Any):
        self.compile(e)
        return None

    def as_string(self, e: Any):
        self.compile(e)
        return None

    def as_boolean(self, e: Any):
        self.compile(e)
        return None

    def compile_boolean(self, e: Any):
        self.compile(e)
        return None


def _validate_arity(op: str, e: list) -> None:
    if op == "get" and (len(e) != 2 or not isinstance(e[1], str)):
        raise FilterError("'get' expects a single string key")
    if op == "has" and (len(e) != 2 or not isinstance(e[1], str)):
        raise FilterError("'has' expects a single string key")
    if op == "in" and len(e) != 3:
        raise FilterError("'in' expression expects needle and haystack")
    if op in ("==", "!=", "<", "<=", ">", ">=") and len(e) < 3:
        raise FilterError(f"'{op}' expects two operands")
    if op == "match" and (len(e) < 5 or len(e) % 2 == 0):
        raise FilterError("'match' expects input, label/output pairs, fallback")
    if op == "case" and (len(e) < 4 or len(e) % 2 != 0):
        raise FilterError("'case' expects cond/output pairs plus fallback")
    if op == "step" and len(e) < 3:
        raise FilterError("'step' expects input, base output, stops")
    if op in ("within", "distance") and (len(e) != 2 or not isinstance(e[1], dict)):
        raise FilterError(f"'{op}' expects a GeoJSON object")


def _number_to_string(n: Column) -> Column:
    """GL to-string for numbers: integral values print without '.0'."""
    as_long = n.cast("long")
    return F.when(
        n.isNotNull() & (as_long.cast("double") == n), as_long.cast("string")
    ).otherwise(n.cast("string"))


_OP_NAME_MAP = {
    "==": "eq", "!=": "ne", "<": "lt", "<=": "le", ">": "gt", ">=": "ge",
    "+": "plus", "*": "times", "-": "minus", "/": "div", "%": "mod",
    "^": "pow", "!": "not",
}


def _py_name(op: str) -> str:
    return _OP_NAME_MAP.get(op, op.replace("-", "_"))


_VALID_OPS = frozenset(
    name[4:] for name in dir(_Expr) if name.startswith("_op_")
)
