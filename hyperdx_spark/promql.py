"""PromQL adapter — a PromQL subset compiled straight to DataFrame plans.

The reference routes PromQL dashboards to an external Prometheus API and
reshapes the response matrix client-side
(``packages/api/src/routers/api/prometheus.ts``,
``packages/app/src/hooks/useChartConfig.tsx:325-399``). Here the engine
evaluates the query itself over a samples table, so PromQL tiles run on the
same Spark data as everything else.

Data model: a *samples* DataFrame with columns ``__name__`` (metric name),
a timestamp, a double value, and one string column per label.

Supported language (the shapes HyperDX dashboards actually use, and then
some):
* selector ``name{l="v", l2!="v", l3=~"re", l4!~"re"}``
* range functions over ``sel[window]`` or a subquery ``expr[range:res]``:
  ``rate``, ``increase``, ``delta``, ``irate``, ``idelta``, ``changes``,
  ``resets``, ``deriv``, ``predict_linear``, ``avg/min/max/sum/count/
  last/stddev/stdvar/present/quantile_over_time``
* aggregation: ``sum/avg/min/max/count/stddev/stdvar/group/
  quantile(phi, ...)/count_values("label", ...)`` with ``by (labels)`` or
  ``without (labels)`` (leading or trailing clause position)
* ``topk/bottomk(k, expr)`` incl. per-group ``by``/``without``;
  ``histogram_quantile(phi, expr)`` over an ``le``-labelled
  cumulative-bucket vector; ``absent(expr)``
* ``offset dur`` modifier on selectors (instant, range, subquery)
* scalar arithmetic: ``expr op number`` / ``number op expr``
  (``+ - * / % ^ atan2``, Prometheus precedence incl. right-assoc ``^``;
  literal-literal subexpressions constant-fold at parse time, so ``pi()``
  composes as a scalar)
* vector-vector arithmetic with full matching: default shared-label 1:1,
  ``on(...)/ignoring(...)``, ``group_left/group_right[(extra)]``
* comparisons ``== != > < >= <=`` (filter semantics; ``bool`` for 0/1)
* ``label_replace``/``label_join``; math fns ``abs ceil floor sqrt exp ln
  log2 log10 sgn deg rad clamp clamp_min clamp_max round`` + trig
  ``sin cos tan asin acos atan sinh cosh tanh`` and ``pi()``
* ``holt_winters``/``double_exponential_smoothing(v[d], sf, tf)`` as a
  JVM-side ``aggregate()`` fold over the window's sample array
* calendar component fns (value-as-epoch, UTC): ``minute hour day_of_week
  day_of_month day_of_year days_in_month month year`` (and the no-arg
  step-time form, e.g. ``hour()``)

* set operators ``and / or / unless`` with on/ignoring matching
* ``@ epoch`` modifier; ``time()`` / ``scalar(v)`` / ``vector(s)`` with
  Prometheus scalar element-wise semantics in binary ops; ``timestamp(v)``
  (original sample time for instant selectors, step time for derived
  vectors)

* ``sort``/``sort_desc`` and ``sort_by_label[_desc](v, "lbl", ...)``
  (presentation order on the result DataFrame)

* native histograms: a nullable struct sample column (schema, zero
  count/threshold, dense pos/neg offset+counts — OTel exp-histogram
  layout) evaluated natively: instant selectors, ``rate``/``increase``/
  ``delta`` over a window (bucket-wise, reset-aware, schema-aligned),
  ``sum`` aggregation (scale-normalized merge), ``histogram_quantile``
  (linear within bucket bounds, quantile.go parity) and
  ``histogram_count/sum/avg``. See the "native histograms" section of
  ``PromQLEngine`` for the documented divergences.

Semantics notes (documented divergences from Prometheus):
* ``rate``/``increase`` sum reset-adjusted deltas of consecutive samples
  whose *both* endpoints fall inside the window — no boundary
  extrapolation by default. ``PromQLEngine(..., extrapolate=True)``
  switches rate/increase/delta to Prometheus's exact extrapolatedRate
  (edge extrapolation capped at 1.1x the mean sample spacing, counter
  zero-crossing cap), verified against a verbatim port of
  functions.go in tests.
* instant selectors use a staleness lookback (default 5m) and take the
  latest sample per series at each step, like Prometheus.

Scale shape: one pass computes per-sample deltas (single shuffle on the
series key); steps are a generated range (tiny) broadcast against the
window join; every aggregation is a plain groupBy on (step, labels).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from datetime import datetime
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hyperdx_spark.session import local_checkpoint, scoped
from hyperdx_spark.sqlident import sql_ident

DEFAULT_LOOKBACK_S = 300  # Prometheus staleness window


def _binop_expr(op: str, a, b) -> Column:
    """Arithmetic binary-operator element expression (shared by the
    vector-vector, scalar-vector and literal paths). Division/modulo by zero
    yields NULL (the element drops), a documented divergence from
    Prometheus's IEEE ±Inf."""
    if op == "+":
        return a + b
    if op == "-":
        return a - b
    if op == "*":
        return a * b
    if op == "/":
        return F.when(b != 0, a / b)
    if op == "%":
        return F.when(b != 0, a % b)
    if op == "^":
        return F.pow(a, b)
    if op == "atan2":
        return F.atan2(a, b)
    raise ValueError(f"unknown binary operator {op!r}")


def _guard_unique(
    side: DataFrame, match_keys: list, value_col: str, msg: str
) -> DataFrame:
    """Lazy uniqueness guard: ride a `count over (partition by match_keys)`
    window on the operand and `raise_error` on the value column when a match
    group has >1 series. The semantically-required many-to-many check
    (Prometheus errors on duplicate series per match group) thus executes
    inside the main join plan — no eager `.take(1)` driver jobs per binop,
    which previously cost 1-2 full passes over the samples table per vector
    operator before the real query even ran. The window shuffle is keyed
    identically to the downstream join, so the rows are co-partitioned.

    The error surfaces at action time as a SparkRuntimeException whose
    message carries the Prometheus-style many-to-many text.

    The guard is a FILTER predicate, not a projected value column: whole-
    stage codegen inlines an upstream projection into the join's consume
    path, so a guarded VALUE only evaluates for rows that survive the
    match — duplicates with no counterpart on the other side would pass
    silently (Prometheus errors regardless of the other operand;
    empirically reproduced). A filter must be evaluated for EVERY row to
    decide survival, so the error always fires — and unlike guarding the
    join key it doesn't turn ``__step`` into a computed column, so the
    window's exchange stays reusable by the downstream join.
    (``value_col`` is kept in the signature for call-site clarity of which
    operand is being guarded.)"""
    staged = side.withColumn(
        "__dup_cnt", F.count(F.lit(1)).over(Window.partitionBy(*match_keys))
    )
    guard = F.when(
        F.col("__dup_cnt") > 1, F.raise_error(F.lit(msg)).cast("boolean")
    ).otherwise(F.lit(True))
    return staged.where(guard).drop("__dup_cnt")


_RANGE_FNS = {
    "rate",
    "increase",
    "delta",
    "irate",
    "idelta",
    "changes",
    "resets",
    "deriv",
    "avg_over_time",
    "min_over_time",
    "max_over_time",
    "sum_over_time",
    "count_over_time",
    "last_over_time",
    "stddev_over_time",
    "stdvar_over_time",
    "present_over_time",
    "absent_over_time",
}
_AGG_OPS = {
    "sum", "avg", "min", "max", "count",
    "stddev", "stdvar", "group", "quantile", "count_values",
}
_TOPK_OPS = {"topk", "bottomk"}
# experimental aggregations/functions behind Prometheus's
# --enable-feature=promql-experimental-functions (parser-gated upstream in
# promql/parser: limitk / limit_ratio / mad_over_time); the reference
# reaches them only via passthrough to servers with the flag enabled
# (packages/api/src/routers/api/prometheus.ts), so the engine mirrors the
# opt-in: parse(..., experimental=True) / PromQLEngine(experimental=True)
_EXP_LIMIT_OPS = {"limitk", "limit_ratio"}
_EXP_RANGE_FNS = {"mad_over_time"}
_MATH_FNS = {
    "abs": "abs({v})",
    "ceil": "ceil({v})",
    "floor": "floor({v})",
    "sqrt": "sqrt({v})",
    "exp": "exp({v})",
    "ln": "ln({v})",
    "log2": "log2({v})",
    "log10": "log10({v})",
    "sgn": "sign({v})",
    "deg": "degrees({v})",
    "rad": "radians({v})",
    "sin": "sin({v})",
    "cos": "cos({v})",
    "tan": "tan({v})",
    "asin": "asin({v})",
    "acos": "acos({v})",
    "atan": "atan({v})",
    "sinh": "sinh({v})",
    "cosh": "cosh({v})",
    "tanh": "tanh({v})",
}
# value-as-epoch calendar components (prometheus functions.go dateWrapper:
# the sample VALUE is interpreted as UTC epoch seconds, truncated to int)
_TIME_COMPONENT_FNS = {
    "minute": "minute({t})",
    "hour": "hour({t})",
    "day_of_month": "day({t})",
    "day_of_week": "dayofweek({t}) - 1",  # prometheus: 0=Sunday..6
    "day_of_year": "dayofyear({t})",
    "days_in_month": "day(last_day({t}))",
    "month": "month({t})",
    "year": "year({t})",
}
_CMP_OPS = {"==", "!=", ">", "<", ">=", "<="}

_DUR_RE = re.compile(r"^(?:\d+(?:ms|s|m|h|d|w|y))+$")
_DUR_PART_RE = re.compile(r"(\d+)(ms|s|m|h|d|w|y)")
_DUR_S = {"ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800, "y": 31536000}


def parse_duration(s: str) -> float:
    """Prometheus duration, including the compound form (`1h30m`,
    `1m30s`): the sum of each unit part. (Prometheus additionally requires
    strictly descending units with no repeats; this accepts the superset —
    every valid Prometheus duration parses identically.)"""
    s = s.strip()
    if not _DUR_RE.match(s):
        raise ValueError(f"bad PromQL duration: {s!r}")
    return sum(int(n) * _DUR_S[u] for n, u in _DUR_PART_RE.findall(s))


# --------------------------------------------------------------------------
# Prometheus-compatible HTTP-API parameter parsing (routers/api/
# prometheus.ts:49-84, 155-157) — distinct from the PromQL-EXPRESSION
# duration above: the API accepts raw numbers, bare numeric strings, and
# fractional single-unit durations ('1.5h'), and /query_range rejects
# resolutions above 11k points per series.
# --------------------------------------------------------------------------

PROMETHEUS_MAX_RESOLUTION = 11_000

_API_DUR_RE = re.compile(r"^(\d+(?:\.\d+)?)(ms|s|m|h|d|w|y)$")


def _js_number(s: str) -> Optional[float]:
    """JS ``Number(str)`` (shared quirk emulation — hex literals parse,
    underscore separators and 'nan' do not)."""
    from hyperdx_spark.jsnum import js_number

    return js_number(s)


def parse_api_timestamp(value) -> float:
    """prometheus.ts parseTimestamp: numbers pass through, numeric strings
    are unix seconds, anything else must parse as a date (RFC3339) and is
    returned as unix seconds; unparseable input raises the reference's
    user-facing error."""
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        return float(value)
    num = _js_number(str(value))
    if num is not None:
        return num
    # new Date(value) fallback — the shared JS Date emulation (ISO-8601 +
    # RFC 2822; V8's looser legacy forms stay unsupported, documented there)
    from .jsnum import js_date_ms

    ms = js_date_ms(str(value))
    if ms is None:
        raise ValueError(f"Invalid timestamp: {value}")
    return ms / 1000


def parse_api_duration(value) -> float:
    """prometheus.ts parseDuration: numbers pass through, bare numeric
    strings are seconds, else a SINGLE fractional unit ('500ms', '1.5h');
    invalid input raises the reference's user-facing error."""
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        return float(value)
    num = _js_number(str(value))
    if num is not None:
        return num
    m = _API_DUR_RE.match(str(value).strip())
    if not m:
        raise ValueError(f"Invalid duration: {value}")
    return float(m.group(1)) * _DUR_S[m.group(2)]


def validate_range_resolution(start_s: float, end_s: float, step_s: float) -> None:
    """/query_range's resolution guard (prometheus.ts:393-399): step must
    be positive and the range must stay under 11,000 points per series."""
    if step_s <= 0 or (end_s - start_s) / step_s > PROMETHEUS_MAX_RESOLUTION:
        raise ValueError(
            f"exceeded maximum resolution of {PROMETHEUS_MAX_RESOLUTION:,}"
            " points per timeseries. Try decreasing the query resolution"
            " (?step=XX)"
        )


PROMETHEUS_MAX_RESULT_ROWS = 100_000  # prometheus.ts:156 max_result_rows

# widest window /query_exemplars accepts (prometheus.ts:161)
PROMETHEUS_MAX_EXEMPLAR_WINDOW_SEC = 7 * 24 * 60 * 60


def resolve_exemplar_window(
    raw_start, raw_end, max_window_sec: float = PROMETHEUS_MAX_EXEMPLAR_WINDOW_SEC
):
    """prometheus.ts:581-600 resolveExemplarWindow: both bounds must parse
    to FINITE timestamps with end >= start, and the window is clamped to
    the newest ``max_window_sec`` — the only result-size lever the exemplar
    API has. Returns (start, end) or raises the user-facing error."""
    def _p(v):
        if v is None or v == "":
            return None
        try:
            t = parse_api_timestamp(v)
        except ValueError:
            return None
        return t if t == t and abs(t) != float("inf") else None

    start, end = _p(raw_start), _p(raw_end)
    if start is None or end is None or end < start:
        raise ValueError("invalid or missing start/end parameters")
    return max(start, end - max_window_sec), end

# Prometheus label-name grammar (prometheus.ts:721)
_PROM_LABEL_NAME_RE = re.compile(r"^[a-zA-Z_:][a-zA-Z0-9_:]*$")


def _prom_num_str(v) -> str:
    """A sample value as the reference's JSON emits it — JS
    ``String(number)`` exactly, including the decimal-vs-exponential band
    (rate() values in the 1e-6..1e-4 range print as decimals, not
    Python-style '1.5e-05')."""
    from hyperdx_spark.jsnum import js_number_str

    return js_number_str(v)


def _prom_rows(df, ts_col: str = "__step"):
    rows = df.limit(PROMETHEUS_MAX_RESULT_ROWS + 1).collect()
    if len(rows) > PROMETHEUS_MAX_RESULT_ROWS:
        raise ValueError(
            f"result exceeds max_result_rows ({PROMETHEUS_MAX_RESULT_ROWS})"
        )
    label_cols = [c for c in df.columns if c not in (ts_col, "value")]
    return rows, label_cols


def to_prometheus_matrix(df, ts_col: str = "__step") -> list:
    """A ``query_range`` result DataFrame (ts, labels..., value) as the
    Prometheus /query_range ``matrix`` result body
    (prometheus.ts:112-131 formatMatrixResponse): one entry per label set,
    ``values`` = chronological [unix_seconds, "value"] pairs. The collect
    is the API response itself (client-facing JSON), capped at the
    reference's max_result_rows."""
    rows, label_cols = _prom_rows(df, ts_col)
    series: dict = {}
    for r in rows:
        metric = {
            k: str(r[k]) for k in label_cols if r[k] is not None
        }
        key = tuple(sorted(metric.items()))
        e = series.setdefault(key, {"metric": metric, "values": []})
        e["values"].append(
            [r[ts_col].timestamp(), _prom_num_str(r["value"])]
        )
    out = list(series.values())
    for e in out:
        e["values"].sort(key=lambda p: p[0])
    out.sort(key=lambda e: tuple(sorted(e["metric"].items())))
    return out


def to_prometheus_vector(df, ts_col: str = "__step") -> list:
    """An instant-query result as the Prometheus ``vector`` body
    (prometheus.ts:133-147 formatVectorResponse): one
    ``value: [unix_seconds, "value"]`` per label set."""
    rows, label_cols = _prom_rows(df, ts_col)
    out = [
        {
            "metric": {k: str(r[k]) for k in label_cols if r[k] is not None},
            "value": [r[ts_col].timestamp(), _prom_num_str(r["value"])],
        }
        for r in rows
    ]
    out.sort(key=lambda e: tuple(sorted(e["metric"].items())))
    return out


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------

@dataclass
class Selector:
    name: str
    matchers: list[tuple[str, str, str]] = field(default_factory=list)  # (label, op, value)
    window_s: Optional[float] = None  # set for sel[dur]
    offset_s: float = 0.0  # `sel offset dur` — evaluate shifted into the past
    at_s: Optional[float] = None  # `sel @ epoch` — pin the evaluation time
    # sel[range:res] — parsed as a subquery over the instant selector
    subquery_res_s: Optional[float] = None


@dataclass
class Subquery:
    """expr[range:res] — the inner expression evaluated at `res`-aligned
    steps; a range function then aggregates those synthetic samples."""

    arg: "Expr"
    range_s: float
    res_s: float
    offset_s: float = 0.0


@dataclass
class RangeFn:
    fn: str
    arg: "Expr"  # Selector with window, or Subquery


@dataclass
class Agg:
    op: str
    by: Optional[list[str]]  # None = collapse all labels
    arg: "Expr"
    without: Optional[list[str]] = None  # complement form of `by`
    param: object = None  # quantile phi / count_values output label


@dataclass
class TopK:
    op: str  # topk | bottomk
    k: int
    arg: "Expr"
    by: Optional[list[str]] = None  # per-group top-k
    without: Optional[list[str]] = None


@dataclass
class LimitK:
    """Experimental ``limitk(k, v)`` / ``limit_ratio(r, v)``: a
    deterministic hash-based subset of the input vector's series (upstream
    samples by series-labels hash so the selection is stable for a given
    series set; here the hash is md5 over the label tuple, which a SQL
    oracle can replay)."""

    op: str  # limitk | limit_ratio
    param: float  # k (limitk) or r in [-1, 1] (limit_ratio)
    arg: "Expr"
    by: Optional[list[str]] = None
    without: Optional[list[str]] = None


@dataclass
class HistogramQuantile:
    phi: float
    arg: "Expr"  # vector carrying an `le` label (cumulative bucket counts)
    # — or, when the engine has a native-histogram column, an expression
    # yielding a native-histogram vector (selector / rate / sum)


@dataclass
class HistFn:
    """histogram_count / histogram_sum / histogram_avg /
    histogram_stddev / histogram_stdvar over a native-histogram vector."""

    fn: str  # 'count' | 'sum' | 'avg' | 'stddev' | 'stdvar'
    arg: "Expr"


@dataclass
class HistogramFraction:
    """histogram_fraction(lower, upper, hv): estimated fraction of
    observations in [lower, upper] of a native-histogram vector
    (promql/quantile.go histogramFraction)."""

    lower: float
    upper: float
    arg: "Expr"


@dataclass
class Absent:
    arg: "Expr"  # emits value=1 at steps where the vector is empty


@dataclass
class BinOp:
    op: str
    left: "Expr"
    right: "Expr"
    # vector-matching modifiers (prometheus.ts passthrough parity: the
    # reference serves the full language; these are the k8s-dashboard idioms)
    on: Optional[list[str]] = None        # on(l1, l2)
    ignoring: Optional[list[str]] = None  # ignoring(l1, l2)
    group: Optional[str] = None           # 'left' | 'right' (many-to-one)
    group_labels: list[str] = field(default_factory=list)


@dataclass
class LabelReplace:
    arg: "Expr"
    dst: str
    replacement: str
    src: str
    regex: str


@dataclass
class LabelJoin:
    arg: "Expr"
    dst: str
    sep: str
    srcs: list[str]


@dataclass
class MathFn:
    fn: str
    arg: "Expr"
    scalars: list[float] = field(default_factory=list)  # clamp/round args


@dataclass
class QuantileOverTime:
    phi: float
    arg: "Expr"  # Selector with window or Subquery


@dataclass
class PredictLinear:
    arg: "Expr"
    t_s: float


@dataclass
class HoltWinters:
    """holt_winters / double_exponential_smoothing (v[d], sf, tf)."""

    arg: "Expr"
    sf: float  # smoothing factor
    tf: float  # trend factor


@dataclass
class Timestamp:
    """timestamp(v) — each element's sample time as epoch seconds."""

    arg: "Expr"


@dataclass
class Compare:
    op: str
    left: "Expr"
    right: "Expr"
    bool_mode: bool = False
    on: Optional[list[str]] = None
    ignoring: Optional[list[str]] = None
    group: Optional[str] = None           # 'left' | 'right' (many-to-one)
    group_labels: list[str] = field(default_factory=list)


@dataclass
class SetOp:
    op: str  # and | or | unless
    left: "Expr"
    right: "Expr"
    on: Optional[list[str]] = None
    ignoring: Optional[list[str]] = None


@dataclass
class TimeFn:
    """time() — the step epoch as a scalar (element-wise in binops)."""


@dataclass
class ScalarFn:
    """scalar(v) — single-series vector to scalar (NaN when not single)."""

    arg: "Expr"


@dataclass
class VectorFn:
    """vector(s) — scalar to a label-less instant vector."""

    value: float


@dataclass
class NumberLit:
    value: float


Expr = object  # union of the above


# --------------------------------------------------------------------------
# Parser (recursive descent over a small token stream)
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<dur>(?:\d+(?:ms|s|m|h|d|w|y))+\b)"
    r"|(?P<num>0[xX][0-9a-fA-F]+\b"
    r"|(?:\d+\.\d+|\.\d+|\d+)(?:[eE][+-]?\d+)?(?!\w))"
    r"|(?P<id>[a-zA-Z_:][a-zA-Z0-9_:]*)"
    r"|(?P<str>\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*')"
    r"|(?P<op>=~|!~|!=|==|>=|<=|[{}()\[\],=+\-*/<>@%^]))"
)


def _tokenize(s: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m:
            if s[pos:].strip() == "":
                break
            raise ValueError(f"PromQL parse error at: {s[pos:]!r}")
        pos = m.end()
        for kind in ("dur", "num", "id", "str", "op"):
            v = m.group(kind)
            if v is not None:
                # Prometheus lexes inf/nan (any case) as FLOAT LITERALS,
                # not metric names — without this `h > Inf` silently
                # becomes a vector match against a metric called "Inf"
                if kind == "id" and v.lower() in ("inf", "nan"):
                    kind = "num"
                # hex literals (0x1f) normalize to decimal here so every
                # downstream float(v) site stays a plain float() call
                if kind == "num" and v[:2].lower() == "0x":
                    v = str(int(v, 16))
                out.append((kind, v))
                break
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]], experimental: bool = False):
        self.toks = tokens
        self.i = 0
        self.experimental = experimental

    def peek(self) -> Optional[tuple[str, str]]:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str]:
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of PromQL expression")
        self.i += 1
        return t

    def expect(self, val: str) -> None:
        t = self.next()
        if t[1] != val:
            raise ValueError(f"expected {val!r}, got {t[1]!r}")

    # cmp (full expression) := and_expr ('or' [matching] and_expr)*
    def cmp(self):
        node = self._and_level()
        while self.peek() and self.peek() == ("id", "or"):
            self.next()
            mods = self._match_modifiers()
            node = SetOp(
                "or", node, self._and_level(),
                mods.get("on"), mods.get("ignoring"),
            )
        return node

    # and_expr := cmp_level (('and'|'unless') [matching] cmp_level)*
    def _and_level(self):
        node = self._cmp_level()
        while self.peek() and self.peek()[0] == "id" and self.peek()[1] in ("and", "unless"):
            op = self.next()[1]
            mods = self._match_modifiers()
            node = SetOp(
                op, node, self._cmp_level(),
                mods.get("on"), mods.get("ignoring"),
            )
        return node

    # cmp_level := expr (CMPOP ['bool'] [matching] expr)*
    def _cmp_level(self):
        node = self.expr()
        while self.peek() and self.peek()[1] in _CMP_OPS:
            op = self.next()[1]
            bool_mode = False
            if self.peek() and self.peek() == ("id", "bool"):
                self.next()
                bool_mode = True
            mods = self._match_modifiers()
            node = Compare(
                op, node, self.expr(), bool_mode,
                mods.get("on"), mods.get("ignoring"),
                mods.get("group"), mods.get("group_labels", []),
            )
        return node

    # expr := term (('+'|'-') [matching] term)*
    @staticmethod
    def _fold_or_binop(op, left, right, mods):
        """Constant-fold literal-literal arithmetic at parse time (so e.g.
        ``pi() / 2`` is a plain scalar operand, like Prometheus scalars)."""
        if (
            not mods
            and isinstance(left, NumberLit)
            and isinstance(right, NumberLit)
        ):
            a, b = left.value, right.value
            try:
                val = {
                    "+": lambda: a + b,
                    "-": lambda: a - b,
                    "*": lambda: a * b,
                    # IEEE float semantics like Go: x/0 = ±Inf, 0/0 = NaN
                    "/": lambda: a / b
                    if b != 0
                    else (math.nan if a == 0 else math.inf * (1 if a > 0 else -1)),
                    "%": lambda: math.fmod(a, b) if b != 0 else math.nan,
                    # math.pow (not **): negative base w/ fractional exponent
                    # must fold to NaN, not a Python complex
                    "^": lambda: math.pow(a, b),
                    "atan2": lambda: math.atan2(a, b),
                }[op]()
            except (OverflowError, ValueError):
                val = math.nan
            return NumberLit(float(val))
        return BinOp(op, left, right, **mods)

    def expr(self):
        node = self.term()
        while self.peek() and self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            mods = self._match_modifiers()
            node = self._fold_or_binop(op, node, self.term(), mods)
        return node

    def term(self):
        node = self.unary()
        while self.peek() and (
            self.peek()[1] in ("*", "/", "%") or self.peek() == ("id", "atan2")
        ):
            op = self.next()[1]
            mods = self._match_modifiers()
            node = self._fold_or_binop(op, node, self.unary(), mods)
        return node

    def unary(self):
        # Prometheus unary +/- binds at multiplication precedence (so
        # `-2^2` is `-(2^2)`) and applies to any expression. `-x` on a
        # literal folds; on a vector it lowers to `-1 * x`, which is
        # element-wise negation for float vectors AND (via the r6
        # histogram shape rules) field-wise negation for native-histogram
        # vectors — exactly Prometheus's neg-histogram semantics.
        if self.peek() and self.peek()[0] == "op" and self.peek()[1] in ("-", "+"):
            sign = self.next()[1]
            node = self.unary()
            if sign == "+":
                return node
            if isinstance(node, NumberLit):
                return NumberLit(-node.value)
            return BinOp("*", NumberLit(-1.0), node)
        return self.power()

    def power(self):
        # '^' binds tighter than * / % atan2 and is RIGHT-associative; the
        # right operand re-enters the unary level so `c ^ -3` parses (the
        # Prometheus grammar allows a unary expression there)
        node = self.atom()
        if self.peek() and self.peek()[1] == "^":
            self.next()
            mods = self._match_modifiers()
            node = self._fold_or_binop("^", node, self.unary(), mods)
        return node

    def _label_list(self) -> list[str]:
        """Parse '( label, label, ... )' — possibly empty."""
        self.expect("(")
        labels: list[str] = []
        while True:
            t = self.peek()
            if t and t[1] == ")":
                self.next()
                break
            k, lbl = self.next()
            if k != "id":
                raise ValueError(f"bad label in matching list: {lbl!r}")
            labels.append(lbl)
            t = self.peek()
            if t and t[1] == ",":
                self.next()
        return labels

    def _match_modifiers(self) -> dict:
        """`on(...)/ignoring(...)` + optional `group_left/group_right[(...)]`
        after a binary operator (Prometheus vector matching)."""
        mods: dict = {}
        t = self.peek()
        if t and t[0] == "id" and t[1] in ("on", "ignoring"):
            kind = self.next()[1]
            labels = self._label_list()
            mods["on" if kind == "on" else "ignoring"] = labels
            t = self.peek()
            if t and t[0] == "id" and t[1] in ("group_left", "group_right"):
                self.next()
                mods["group"] = t[1][len("group_"):]
                nxt = self.peek()
                if nxt and nxt[1] == "(":
                    mods["group_labels"] = self._label_list()
        return mods

    def atom(self):
        kind, v = self.next()
        if kind == "num":
            return NumberLit(float(v))
        if v == "(":
            node = self.cmp()
            self.expect(")")
            return node
        if kind != "id":
            raise ValueError(f"unexpected token {v!r}")
        if v in _AGG_OPS and self.peek() and self.peek()[1] in ("(", "by", "without"):
            return self._agg(v)
        if v in _TOPK_OPS and self.peek() and self.peek()[1] in ("(", "by", "without"):
            g = self._grouping()
            self.expect("(")
            kk, kv = self.next()
            if kk != "num":
                raise ValueError(f"{v}(k, expr) needs a numeric k")
            self.expect(",")
            arg = self.cmp()
            self.expect(")")
            if g is None:
                g = self._grouping()
            by = g[1] if g and g[0] == "by" else None
            without = g[1] if g and g[0] == "without" else None
            return TopK(v, int(float(kv)), arg, by=by, without=without)
        if v in _EXP_LIMIT_OPS and self.peek() and self.peek()[1] in ("(", "by", "without"):
            if not self.experimental:
                raise ValueError(
                    f"{v} requires experimental=True "
                    "(promql-experimental-functions)"
                )
            g = self._grouping()
            self.expect("(")
            neg = False
            if self.peek() and self.peek()[1] in ("-", "+"):
                neg = self.next()[1] == "-"
            kk, kv = self.next()
            if kk != "num":
                raise ValueError(f"{v}(param, expr) needs a numeric param")
            param = -float(kv) if neg else float(kv)
            if v == "limit_ratio" and not (-1.0 <= param <= 1.0):
                raise ValueError("limit_ratio param must be in [-1, 1]")
            if v == "limitk" and (param < 0 or param != int(param)):
                # upstream rejects fractional / negative k at parse time;
                # silently truncating limitk(2.9, v) to 2 hid user errors
                raise ValueError(
                    "limitk param must be a non-negative integer"
                )
            self.expect(",")
            arg = self.cmp()
            self.expect(")")
            if g is None:
                g = self._grouping()
            by = g[1] if g and g[0] == "by" else None
            without = g[1] if g and g[0] == "without" else None
            return LimitK(v, param, arg, by=by, without=without)
        if v == "histogram_quantile" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            kk, kv = self.next()
            if kk != "num":
                raise ValueError("histogram_quantile(phi, expr) needs a numeric phi")
            self.expect(",")
            arg = self.cmp()
            self.expect(")")
            return HistogramQuantile(float(kv), arg)
        if v in (
            "histogram_count", "histogram_sum", "histogram_avg",
            "histogram_stddev", "histogram_stdvar",
        ) and (
            self.peek() and self.peek()[1] == "("
        ):
            self.expect("(")
            arg = self.cmp()
            self.expect(")")
            return HistFn(v[len("histogram_"):], arg)
        if v == "histogram_fraction" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            bounds = []
            for _ in range(2):
                neg = False
                if self.peek() and self.peek()[1] in ("-", "+"):
                    neg = self.next()[1] == "-"
                bk, bv = self.next()
                if bk != "num":
                    raise ValueError(
                        "histogram_fraction(lower, upper, expr) needs numeric bounds"
                    )
                bounds.append(-float(bv) if neg else float(bv))
                self.expect(",")
            arg = self.cmp()
            self.expect(")")
            return HistogramFraction(bounds[0], bounds[1], arg)
        if v == "absent" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            arg = self.cmp()
            self.expect(")")
            return Absent(arg)
        if v == "label_replace" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            arg = self.cmp()
            strs = []
            for _ in range(4):
                self.expect(",")
                sk, sv = self.next()
                if sk != "str":
                    raise ValueError("label_replace needs string args")
                strs.append(sv[1:-1])
            self.expect(")")
            return LabelReplace(arg, strs[0], strs[1], strs[2], strs[3])
        if v == "label_join" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            arg = self.cmp()
            strs = []
            while self.peek() and self.peek()[1] == ",":
                self.next()
                sk, sv = self.next()
                if sk != "str":
                    raise ValueError("label_join needs string args")
                strs.append(sv[1:-1])
            self.expect(")")
            if len(strs) < 2:
                raise ValueError("label_join(v, dst, sep, src...) needs dst and sep")
            return LabelJoin(arg, strs[0], strs[1], strs[2:])
        if v in _RANGE_FNS and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            arg = self._range_arg(v)
            self.expect(")")
            return RangeFn(v, arg)
        if v in _EXP_RANGE_FNS and self.peek() and self.peek()[1] == "(":
            if not self.experimental:
                raise ValueError(
                    f"{v} requires experimental=True "
                    "(promql-experimental-functions)"
                )
            self.expect("(")
            arg = self._range_arg(v)
            self.expect(")")
            return RangeFn(v, arg)
        if v == "quantile_over_time" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            kk, kv = self.next()
            if kk != "num":
                raise ValueError("quantile_over_time(phi, sel[d]) needs a numeric phi")
            self.expect(",")
            arg = self._range_arg(v)
            self.expect(")")
            return QuantileOverTime(float(kv), arg)
        if v == "predict_linear" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            arg = self._range_arg(v)
            self.expect(",")
            kk, kv = self.next()
            if kk not in ("num", "dur"):
                raise ValueError("predict_linear(sel[d], t) needs a numeric t")
            t_s = parse_duration(kv) if kk == "dur" else float(kv)
            self.expect(")")
            return PredictLinear(arg, t_s)
        if (
            v in ("holt_winters", "double_exponential_smoothing")
            and self.peek()
            and self.peek()[1] == "("
        ):
            self.expect("(")
            arg = self._range_arg(v)
            factors = []
            for what in ("sf", "tf"):
                self.expect(",")
                sk, sv = self.next()
                if sk != "num" or not (0.0 < float(sv) < 1.0):
                    raise ValueError(
                        f"{v}(v[d], sf, tf) needs {what} strictly between 0 and 1"
                    )
                factors.append(float(sv))
            self.expect(")")
            return HoltWinters(arg, factors[0], factors[1])
        if (
            v in ("sort_by_label", "sort_by_label_desc")
            and self.peek()
            and self.peek()[1] == "("
        ):
            self.expect("(")
            arg = self.cmp()
            labels = []
            while self.peek() and self.peek()[1] == ",":
                self.next()
                sk, sv = self.next()
                if sk != "str":
                    raise ValueError(f"{v}(v, \"label\", ...) needs quoted labels")
                labels.append(sv[1:-1])
            self.expect(")")
            if not labels:
                raise ValueError(f"{v}(v, \"label\", ...) needs at least one label")
            return MathFn(v, arg, scalars=labels)
        if (
            (v in _MATH_FNS or v in _TIME_COMPONENT_FNS or v in ("sort", "sort_desc"))
            and self.peek()
            and self.peek()[1] == "("
        ):
            self.expect("(")
            if v in _TIME_COMPONENT_FNS and self.peek() and self.peek()[1] == ")":
                self.next()  # hour() == hour(vector(time()))
                return MathFn(v, TimeFn())
            arg = self.cmp()
            self.expect(")")
            return MathFn(v, arg)
        if v == "time" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            self.expect(")")
            return TimeFn()
        if v == "pi" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            self.expect(")")
            return NumberLit(math.pi)
        if v == "timestamp" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            arg = self.cmp()
            self.expect(")")
            return Timestamp(arg)
        if v == "scalar" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            arg = self.cmp()
            self.expect(")")
            return ScalarFn(arg)
        if v == "vector" and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            neg = False
            kk, kv = self.next()
            if kv == "-":
                neg = True
                kk, kv = self.next()
            if kk != "num":
                raise ValueError("vector(s) needs a numeric scalar")
            self.expect(")")
            return VectorFn(-float(kv) if neg else float(kv))
        if v in ("clamp", "clamp_min", "clamp_max", "round") and self.peek() and self.peek()[1] == "(":
            self.expect("(")
            arg = self.cmp()
            scalars = []
            while self.peek() and self.peek()[1] == ",":
                self.next()
                sk, sv = self.next()
                neg = False
                if sv == "-":
                    neg = True
                    sk, sv = self.next()
                if sk != "num":
                    raise ValueError(f"{v}() scalar args must be numeric")
                scalars.append(-float(sv) if neg else float(sv))
            self.expect(")")
            if v == "clamp" and len(scalars) != 2:
                raise ValueError("clamp(v, min, max) needs two scalars")
            if v in ("clamp_min", "clamp_max") and len(scalars) != 1:
                raise ValueError(f"{v}(v, s) needs one scalar")
            if v == "round" and len(scalars) > 1:
                raise ValueError("round(v[, to_nearest]) takes at most one scalar")
            return MathFn(v, arg, scalars)
        return self._selector(name=v)

    def _range_arg(self, fn: str):
        """Parse a range-function argument: sel[dur] or expr[range:res]
        (subquery), with optional trailing offset."""
        arg = self.cmp()
        if self.peek() and self.peek()[1] == "[":
            self.next()
            parts = []
            while True:
                t = self.next()
                if t[1] == "]":
                    break
                parts.append(t[1])
            joined = "".join(parts)
            if ":" not in joined:
                raise ValueError(
                    f"{fn}() over an expression needs a subquery [range:res]"
                )
            rng, res = joined.split(":", 1)
            if not res:
                raise ValueError(
                    "subquery default resolution [d:] is not supported — "
                    "give an explicit step, e.g. [1h:5m]"
                )
            off = 0.0
            if self.peek() and self.peek() == ("id", "offset"):
                self.next()
                sign = 1.0
                if self.peek() and self.peek() == ("op", "-"):
                    self.next()
                    sign = -1.0
                k, dur = self.next()
                if k != "dur":
                    raise ValueError(f"offset needs a duration, got {dur!r}")
                off = sign * parse_duration(dur)
            arg = Subquery(arg, parse_duration(rng), parse_duration(res), off)
        if isinstance(arg, Selector) and arg.subquery_res_s is not None:
            # x[1h:5m] parsed inside the selector — lift to Subquery
            inner = Selector(arg.name, arg.matchers, None, 0.0)
            arg = Subquery(inner, arg.window_s, arg.subquery_res_s, arg.offset_s)
        if isinstance(arg, Selector):
            if arg.window_s is None:
                raise ValueError(f"{fn}() requires a range selector sel[dur]")
        elif not isinstance(arg, Subquery):
            raise ValueError(
                f"{fn}() needs sel[dur] or a subquery expr[range:res]"
            )
        return arg

    def _grouping(self) -> Optional[tuple[str, list[str]]]:
        """Optional `by (l1, ...)` / `without (l1, ...)` clause (either
        before or after the aggregation's parenthesized body)."""
        t = self.peek()
        if not (t and t[0] == "id" and t[1] in ("by", "without")):
            return None
        kind = self.next()[1]
        self.expect("(")
        labels: list[str] = []
        while True:
            tt = self.peek()
            if tt and tt[1] == ")":  # empty or trailing-comma list
                self.next()
                break
            k, lbl = self.next()
            if k != "id":
                raise ValueError(f"bad label in {kind}(): {lbl!r}")
            labels.append(lbl)
            t2 = self.next()[1]
            if t2 == ")":
                break
            if t2 != ",":
                raise ValueError(f"bad {kind}() list")
        return kind, labels

    def _agg(self, op: str):
        g = self._grouping()
        self.expect("(")
        param = None
        if op == "quantile":
            kk, kv = self.next()
            if kk != "num":
                raise ValueError("quantile(phi, expr) needs a numeric phi")
            param = float(kv)
            self.expect(",")
        elif op == "count_values":
            kk, kv = self.next()
            if kk != "str":
                raise ValueError('count_values("label", expr) needs a quoted label')
            param = kv[1:-1]
            self.expect(",")
        arg = self.cmp()
        self.expect(")")
        if g is None:  # Prometheus also allows sum(x) by (l)
            g = self._grouping()
        by = g[1] if g and g[0] == "by" else None
        without = g[1] if g and g[0] == "without" else None
        return Agg(op, by, arg, without=without, param=param)

    def _selector(self, name: Optional[str] = None) -> Selector:
        if name is None:
            kind, name = self.next()
            if kind != "id":
                raise ValueError(f"expected metric name, got {name!r}")
        sel = Selector(name)
        if self.peek() and self.peek()[1] == "{":
            self.next()
            while True:
                t = self.peek()
                if t and t[1] == "}":
                    self.next()
                    break
                k, lbl = self.next()
                if k != "id":
                    raise ValueError(f"bad matcher label {lbl!r}")
                op = self.next()[1]
                if op not in ("=", "!=", "=~", "!~"):
                    raise ValueError(f"bad matcher op {op!r}")
                vk, vv = self.next()
                if vk != "str":
                    raise ValueError("matcher value must be quoted")
                sel.matchers.append((lbl, op, vv[1:-1]))
                if self.peek() and self.peek()[1] == ",":
                    self.next()
        if self.peek() and self.peek()[1] == "[":
            self.next()
            parts = []
            while True:
                t = self.next()
                if t[1] == "]":
                    break
                parts.append(t[1])
            joined = "".join(parts)
            if ":" in joined:  # sel[range:res] — subquery over the selector
                rng, res = joined.split(":", 1)
                if not res:
                    raise ValueError(
                        "subquery default resolution [d:] is not supported — "
                        "give an explicit step, e.g. [1h:5m]"
                    )
                sel.window_s = parse_duration(rng)
                sel.subquery_res_s = parse_duration(res)
            else:
                sel.window_s = parse_duration(joined)
        # `offset dur` and `@ epoch` may appear in either order (the two
        # modifiers commute in the Prometheus grammar)
        while self.peek() and self.peek() in (("id", "offset"), ("op", "@")):
            if self.peek() == ("id", "offset"):
                self.next()
                sign = 1.0
                if self.peek() and self.peek() == ("op", "-"):
                    self.next()
                    sign = -1.0  # negative offset looks INTO THE FUTURE
                k, dur = self.next()
                if k != "dur":
                    raise ValueError(f"offset needs a duration, got {dur!r}")
                sel.offset_s = sign * parse_duration(dur)
            else:
                self.next()
                k, v = self.next()
                if k == "id" and v in ("start", "end"):
                    self.expect("(")
                    self.expect(")")
                    sel.at_s = f"__{v}__"  # resolved to the range bound at eval
                elif k == "num":
                    sel.at_s = float(v)
                else:
                    raise ValueError(
                        "@ modifier needs a unix-epoch number or start()/end()"
                    )
        return sel


def parse(query: str, experimental: bool = False):
    p = _Parser(_tokenize(query), experimental=experimental)
    node = p.cmp()
    if p.peek() is not None:
        raise ValueError(f"trailing tokens: {p.toks[p.i:]}")
    return node


# --------------------------------------------------------------------------
# Native-histogram SQL fragment builders
# --------------------------------------------------------------------------
# Construction-cost twins of the former Column-by-Column builders: each
# helper returns Spark-SQL TEXT for the same expression semantics the Column
# operators built (same ops, same literal types, same CASE order), so one
# parse RPC replaces thousands of py4j Column round trips — the r16 driver
# profile measured ~2 ms per Column op and ~13 ms per Python-built lambda
# vs ~1 ms to parse a whole SQL expression; a single histogram_fraction
# construction was ~3,000 RPCs (≈2 s of pure driver latency). Exactness is
# pinned by tests/test_promql_native_hist.py golden values,
# tests/test_promql_hist_sql_twin.py (Column-twin equality) and the strict
# q_promql_features oracle gate.

_EMPTY_D = "CAST(array() AS ARRAY<DOUBLE>)"
_EMPTY_BKT = (
    "CAST(array() AS ARRAY<STRUCT<lower: DOUBLE, upper: DOUBLE, cnt: DOUBLE>>)"
)


def _sql_dlit(x: float) -> str:
    """Double literal SQL text for a finite/infinite Python float — the
    parsed Literal carries the identical IEEE value to ``F.lit(float(x))``
    (repr is the shortest round-trip form; Double.parseDouble inverts it)."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _sql_h_elem(cnt: str, off: str, i: str) -> str:
    """counts[] lookup at absolute bucket index i (0.0 outside range)."""
    return (
        f"CASE WHEN ({i}) >= ({off}) AND ({i}) <= ({off}) + size({cnt}) - 1 "
        f"THEN element_at({cnt}, CAST(({i}) - ({off}) + 1 AS INT)) "
        f"ELSE 0.0D END"
    )


def _sql_h_down(cnt: str, off: str, shift: str, var: str = "j") -> tuple:
    """Downscale dense exponential buckets by ``shift`` schema steps:
    2^shift adjacent source buckets merge into one. Returns
    (off_sql, cnt_sql); shift 0 passes through. ``var`` prefixes the lambda
    variable names so nested uses (one _sql_h_down per array element in the
    sum-aggregation) never shadow an outer lambda."""
    div = f"power(2.0D, CAST({shift} AS DOUBLE))"
    noff = f"CAST(FLOOR(CAST({off} AS DOUBLE) / {div}) AS BIGINT)"
    last = f"CAST({off} AS BIGINT) + size({cnt}) - 1"
    nlast = f"CAST(FLOOR(CAST({last} AS DOUBLE) / {div}) AS BIGINT)"
    vj, vc, vi, va, vx = var, f"{var}c", f"{var}i", f"{var}a", f"{var}x"
    merged = (
        f"transform(sequence({noff}, {nlast}), {vj} -> "
        f"aggregate(zip_with({cnt}, "
        f"sequence(CAST({off} AS BIGINT), CAST({off} AS BIGINT) + size({cnt}) - 1), "
        f"({vc}, {vi}) -> CASE WHEN CAST(FLOOR(CAST({vi} AS DOUBLE) / {div}) AS BIGINT) = {vj} "
        f"THEN {vc} ELSE 0.0D END), "
        f"0.0D, ({va}, {vx}) -> {va} + {vx}))"
    )
    off_out = (
        f"CASE WHEN size({cnt}) = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE CASE WHEN ({shift}) = 0 THEN CAST({off} AS BIGINT) ELSE {noff} END END"
    )
    cnt_out = (
        f"CASE WHEN size({cnt}) = 0 THEN {_EMPTY_D} "
        f"ELSE CASE WHEN ({shift}) = 0 THEN {cnt} ELSE {merged} END END"
    )
    return off_out, cnt_out


def _sql_h_pair(a_off: str, a_cnt: str, b_off: str, b_cnt: str, op: str,
                var: str = "i") -> tuple:
    """Element-wise ``op`` ('+'/'-') over the union index range of two dense
    bucket arrays (both already at the same schema). Returns (off, counts)."""
    a_ne, b_ne = f"size({a_cnt}) > 0", f"size({b_cnt}) > 0"
    a_last = f"({a_off}) + size({a_cnt}) - 1"
    b_last = f"({b_off}) + size({b_cnt}) - 1"
    lo = (
        f"CAST(CASE WHEN ({a_ne}) AND ({b_ne}) THEN least({a_off}, {b_off}) "
        f"WHEN {a_ne} THEN {a_off} ELSE {b_off} END AS BIGINT)"
    )
    hi = (
        f"CAST(CASE WHEN ({a_ne}) AND ({b_ne}) THEN greatest({a_last}, {b_last}) "
        f"WHEN {a_ne} THEN {a_last} ELSE {b_last} END AS BIGINT)"
    )
    ea = _sql_h_elem(a_cnt, a_off, var)
    eb = _sql_h_elem(b_cnt, b_off, var)
    cnts = (
        f"CASE WHEN (NOT ({a_ne})) AND (NOT ({b_ne})) THEN {_EMPTY_D} "
        f"ELSE transform(sequence({lo}, {hi}), {var} -> ({ea}) {op} ({eb})) END"
    )
    off_out = (
        f"CASE WHEN (NOT ({a_ne})) AND (NOT ({b_ne})) THEN CAST(0 AS BIGINT) "
        f"ELSE {lo} END"
    )
    return off_out, cnts


def _sql_h_struct(schema: str, zc: str, zt: str, cnt: str, sm: str, poff: str,
                  pcnt: str, noff: str, ncnt: str) -> str:
    return (
        "named_struct("
        f"'schema', CAST({schema} AS INT), "
        f"'zero_count', CAST({zc} AS DOUBLE), "
        f"'zero_threshold', CAST({zt} AS DOUBLE), "
        f"'count', CAST({cnt} AS DOUBLE), "
        f"'sum', CAST({sm} AS DOUBLE), "
        f"'pos_offset', CAST({poff} AS INT), "
        f"'pos_counts', CAST({pcnt} AS ARRAY<DOUBLE>), "
        f"'neg_offset', CAST({noff} AS INT), "
        f"'neg_counts', CAST({ncnt} AS ARRAY<DOUBLE>))"
    )


def _sql_h_buckets(h: str, zero_lower: str, zero_upper: str) -> str:
    """The ascending bucket array [reversed negatives, zero bucket,
    positives] as (lower, upper, cnt) structs — shared assembly of the
    quantile / stdvar / fraction walks; the zero bucket's bounds differ per
    caller (`zero_lower`/`zero_upper` SQL fragments)."""
    invs = f"power(2.0D, -CAST({h}.schema AS DOUBLE))"

    def bound(i: str) -> str:
        return f"power(2.0D, CAST({i} AS DOUBLE) * {invs})"

    e_neg = _sql_h_elem(f"{h}.neg_counts", f"{h}.neg_offset", "bi")
    negs = (
        f"CASE WHEN size({h}.neg_counts) = 0 THEN {_EMPTY_BKT} "
        f"ELSE transform(sequence("
        f"CAST({h}.neg_offset AS BIGINT) + size({h}.neg_counts) - 1, "
        f"CAST({h}.neg_offset AS BIGINT), -1), "
        f"bi -> named_struct('lower', -({bound('bi + 1')}), "
        f"'upper', -({bound('bi')}), 'cnt', {e_neg})) END"
    )
    zero = (
        f"array(named_struct('lower', {zero_lower}, 'upper', {zero_upper}, "
        f"'cnt', {h}.zero_count))"
    )
    e_pos = _sql_h_elem(f"{h}.pos_counts", f"{h}.pos_offset", "bi")
    poss = (
        f"CASE WHEN size({h}.pos_counts) = 0 THEN {_EMPTY_BKT} "
        f"ELSE transform(sequence("
        f"CAST({h}.pos_offset AS BIGINT), "
        f"CAST({h}.pos_offset AS BIGINT) + size({h}.pos_counts) - 1), "
        f"bi -> named_struct('lower', {bound('bi')}, "
        f"'upper', {bound('bi + 1')}, 'cnt', {e_pos})) END"
    )
    return f"concat({negs}, {zero}, {poss})"


# --------------------------------------------------------------------------
# Evaluator
# --------------------------------------------------------------------------

class PromQLEngine:
    """Evaluates parsed PromQL over a samples DataFrame."""

    def __init__(
        self,
        samples: DataFrame,
        name_col: str = "__name__",
        ts_col: str = "ts",
        value_col: str = "value",
        label_cols: Optional[Sequence[str]] = None,
        extrapolate: bool = False,
        hist_col: Optional[str] = None,
        experimental: bool = False,
    ):
        self.samples = samples
        self.name_col = name_col
        self.ts_col = ts_col
        self.value_col = value_col
        # native histograms: a nullable struct column (schema, zero_count,
        # zero_threshold, count, sum, pos_offset, pos_counts, neg_offset,
        # neg_counts) — auto-detected under the conventional name
        if hist_col is None and "histogram" in samples.columns:
            hist_col = "histogram"
        self.hist_col = hist_col
        if label_cols is None:
            label_cols = [
                c
                for c in samples.columns
                if c not in (name_col, ts_col, value_col, hist_col)
            ]
        self.label_cols = list(label_cols)
        # extrapolate=True switches rate/increase/delta to Prometheus's exact
        # boundary extrapolation (functions.go extrapolatedRate); the default
        # keeps the engine's simpler documented no-extrapolation semantics
        # (every gated oracle encodes that default)
        self.extrapolate = extrapolate
        # experimental=True enables limitk / limit_ratio / mad_over_time,
        # mirroring Prometheus's promql-experimental-functions feature flag
        # (parser-gated upstream; the reference reaches these only via
        # passthrough to flag-enabled servers)
        self.experimental = experimental
        # eval memo: a subexpression evaluated twice at the same window
        # (same AST node, start, end, step, lookback) returns the SAME
        # DataFrame object. DataFrames are immutable so sharing is safe,
        # construction pays its py4j RPCs once, and the byte-identical
        # subtrees let Spark's ReuseExchange compute the shared work once
        # at runtime. Keyed on the dataclass repr (structural, covers the
        # whole subtree); engine-scoped, so it dies with the engine.
        self._eval_memo: dict = {}
        self._steps_memo: dict = {}

    # -- selectors ---------------------------------------------------------

    def _filter(self, sel: Selector) -> DataFrame:
        df = self.samples.where(F.col(self.name_col) == sel.name)
        for lbl, op, val in sel.matchers:
            c = F.col(lbl)
            if op == "=":
                df = df.where(c == val)
            elif op == "!=":
                df = df.where((c != val) | c.isNull())
            elif op == "=~":
                df = df.where(c.rlike(f"^(?:{val})$"))
            else:  # !~
                df = df.where(~F.coalesce(c.rlike(f"^(?:{val})$"), F.lit(False)))
        return df

    def _steps(self, spark: SparkSession, start: datetime, end: datetime, step_s: int) -> DataFrame:
        lo, hi = int(start.timestamp()), int(end.timestamp())
        out = self._steps_memo.get((lo, hi, step_s))
        if out is None:
            out = spark.range(lo, hi + 1, step_s).select(
                F.timestamp_seconds(F.col("id")).alias("__step"),
                F.col("id").alias("__step_epoch"),
            )
            self._steps_memo[(lo, hi, step_s)] = out
        return out

    @staticmethod
    def _resolve_at(at_s, start, end):
        """`@ start()` / `@ end()` resolve to the query-range bounds."""
        if at_s == "__start__":
            return start.timestamp()
        if at_s == "__end__":
            return end.timestamp()
        return at_s

    @staticmethod
    def _eff_step(sel: Selector, start=None, end=None) -> Column:
        """Evaluation time for this selector: `offset` shifts it into the
        past, `@` pins it to a fixed epoch; results stay keyed by the
        original __step either way."""
        at = PromQLEngine._resolve_at(sel.at_s, start, end)
        base = (
            F.timestamp_seconds(F.lit(at)) if at is not None else F.col("__step")
        )
        if sel.offset_s:
            return base - F.expr(f"INTERVAL {int(sel.offset_s)} SECOND")
        return base

    def _instant(
        self, spark, sel: Selector, start, end, step_s, lookback_s=DEFAULT_LOOKBACK_S
    ) -> DataFrame:
        """Latest sample per series within the staleness lookback at each
        step -> rows (__step, labels..., value)."""
        df = self._filter(sel)
        steps = self._steps(spark, start, end, step_s)
        ts, val = F.col(self.ts_col), F.col(self.value_col)
        eff = self._eff_step(sel, start, end)
        j = F.broadcast(steps).join(
            df,
            (ts > eff - F.expr(f"INTERVAL {lookback_s} SECOND")) & (ts <= eff),
        )
        return (
            j.groupBy("__step", *self.label_cols)
            .agg(F.max_by(val, ts).alias("value"))
        )

    def _range_fn(self, spark, fn: str, node, start, end, step_s, lookback_s=DEFAULT_LOOKBACK_S, extra=None) -> DataFrame:
        if isinstance(node, Subquery):
            # evaluate the inner expression at res-aligned steps covering
            # (start - range, end], then range-aggregate those synthetic
            # samples per outer step (Prometheus subquery semantics; eval
            # times align to multiples of res like the upstream engine)
            import math
            from datetime import timezone

            res = int(node.res_s)
            lo = int(math.ceil((start.timestamp() - node.range_s - node.offset_s) / res)) * res
            hi = int(math.floor((end.timestamp() - node.offset_s) / res)) * res
            t0 = datetime.fromtimestamp(lo, tz=timezone.utc).replace(tzinfo=None)
            t1 = datetime.fromtimestamp(hi, tz=timezone.utc).replace(tzinfo=None)
            inner = self._eval(spark, node.arg, t0, t1, res, lookback_s)
            labels = [c for c in inner.columns if c not in ("__step", "__step_epoch", "value")]
            samples = inner.select(
                F.col("__step").alias("__sq_ts"), *labels, "value"
            )
            return self._range_over_samples(
                spark, fn, samples, "__sq_ts", "value", labels,
                int(node.range_s), node.offset_s, start, end, step_s, extra,
            )
        sel = node
        return self._range_over_samples(
            spark, fn, self._filter(sel), self.ts_col, self.value_col,
            self.label_cols, int(sel.window_s), sel.offset_s, start, end, step_s,
            extra, self._resolve_at(sel.at_s, start, end),
        )

    def _range_over_samples(
        self, spark, fn, df, ts_col, value_col, label_cols, w_s, offset_s,
        start, end, step_s, extra=None, at_s=None,
    ) -> DataFrame:
        ts, val = F.col(ts_col), F.col(value_col)
        eff = (
            F.timestamp_seconds(F.lit(at_s)) if at_s is not None else F.col("__step")
        )
        if offset_s:
            eff = eff - F.expr(f"INTERVAL {int(offset_s)} SECOND")
        if fn in ("irate", "idelta", "changes", "resets"):
            # pairwise deltas on the series key; per step either count pairs
            # (changes/resets) or take the LAST pair in the window (irate/
            # idelta) — prometheus functions.go semantics
            w = Window.partitionBy(*label_cols).orderBy(ts)
            df = (
                df.withColumn("__prev_v", F.lag(val).over(w))
                .withColumn("__prev_ts", F.lag(ts).over(w))
                .where(F.col("__prev_ts").isNotNull())
            )
            steps = self._steps(spark, start, end, step_s)
            j = F.broadcast(steps).join(
                df,
                (ts <= eff)
                & (F.col("__prev_ts") >= eff - F.expr(f"INTERVAL {w_s} SECOND")),
            )
            if fn == "changes":
                agg = F.sum((val != F.col("__prev_v")).cast("long")).cast("double")
            elif fn == "resets":
                agg = F.sum((val < F.col("__prev_v")).cast("long")).cast("double")
            else:
                last = F.max_by(
                    F.struct(
                        val.alias("v"),
                        F.col("__prev_v").alias("pv"),
                        ts.alias("t"),
                        F.col("__prev_ts").alias("pt"),
                    ),
                    ts,
                )
                g = j.groupBy("__step", *label_cols).agg(last.alias("__l"))
                L = F.col("__l")
                if fn == "idelta":
                    value = L.getField("v") - L.getField("pv")
                else:  # irate: reset-aware instantaneous rate
                    dv = F.when(
                        L.getField("v") >= L.getField("pv"),
                        L.getField("v") - L.getField("pv"),
                    ).otherwise(L.getField("v"))
                    dt = (
                        F.unix_micros(L.getField("t"))
                        - F.unix_micros(L.getField("pt"))
                    ).cast("double") / F.lit(1e6)
                    value = F.when(dt > 0, dv / dt)
                return g.select("__step", *label_cols, value.alias("value"))
            return j.groupBy("__step", *label_cols).agg(agg.alias("value"))
        if fn in ("deriv", "predict_linear"):
            # least-squares slope over the window's samples (functions.go
            # linearRegression); predict_linear extrapolates to step + t
            steps = self._steps(spark, start, end, step_s)
            j = F.broadcast(steps).join(
                df,
                (ts > eff - F.expr(f"INTERVAL {w_s} SECOND")) & (ts <= eff),
            )
            # center time on the step epoch (functions.go linearRegression
            # subtracts an intercept time): raw epoch seconds squared lose
            # the sub-second signal to double cancellation
            t_sec = (
                F.unix_micros(ts).cast("double") / F.lit(1e6)
                - F.col("__step_epoch").cast("double")
            )
            g = j.groupBy("__step", F.col("__step_epoch").alias("__se"), *label_cols).agg(
                F.count(val).alias("__n"),
                F.sum(t_sec).alias("__st"),
                F.sum(val).alias("__sy"),
                F.sum(t_sec * val).alias("__sty"),
                F.sum(t_sec * t_sec).alias("__stt"),
            )
            n = F.col("__n").cast("double")
            denom = n * F.col("__stt") - F.col("__st") * F.col("__st")
            slope = F.when(
                (F.col("__n") >= 2) & (denom != 0),
                (n * F.col("__sty") - F.col("__st") * F.col("__sy")) / denom,
            )
            if fn == "deriv":
                value = slope
            else:
                # times are step-centered, so the prediction target is just
                # the horizon `extra` seconds past the step
                t_target = F.lit(float(extra or 0.0))
                mean_t = F.col("__st") / n
                mean_y = F.col("__sy") / n
                value = mean_y + slope * (t_target - mean_t)
            return g.select("__step", *label_cols, value.alias("value"))
        if fn in ("rate", "increase", "delta"):
            # one pass of per-sample deltas on the series key, then a window
            # join: only deltas with both endpoints inside the step's window
            # contribute (no boundary extrapolation)
            w = Window.partitionBy(*label_cols).orderBy(ts)
            df = df.withColumn("__prev_v", F.lag(val).over(w)).withColumn(
                "__prev_ts", F.lag(ts).over(w)
            )
            if fn == "delta":
                d = val - F.col("__prev_v")
            else:  # counter semantics: reset -> current value
                d = F.when(val >= F.col("__prev_v"), val - F.col("__prev_v")).otherwise(val)
            df = df.withColumn("__delta", d)
            steps = self._steps(spark, start, end, step_s)
            if self.extrapolate:
                # keep rows with a null prev: a series' first-ever sample
                # still counts toward the window's first/last/n stats
                return self._extrapolated_rate(
                    steps, df, fn, ts, val, eff, w_s, label_cols
                )
            df = df.where(F.col("__prev_ts").isNotNull())
            # a delta covers the interval (prev_ts, ts]; it contributes to a
            # step's window iff that interval lies within [step-w, step]
            j = F.broadcast(steps).join(
                df,
                (ts <= eff)
                & (F.col("__prev_ts") >= eff - F.expr(f"INTERVAL {w_s} SECOND")),
            )
            total = F.sum("__delta")
            if fn == "rate":
                total = total / F.lit(float(w_s))
            return j.groupBy("__step", *label_cols).agg(total.alias("value"))
        # x_over_time family: plain window join + aggregate
        steps = self._steps(spark, start, end, step_s)
        return self._over_time(steps, df, fn, ts, val, eff, w_s, label_cols, extra)

    def _extrapolated_rate(
        self, steps, df_all, fn, ts, val, eff, w_s, label_cols
    ) -> DataFrame:
        """Prometheus-exact rate/increase/delta (functions.go
        extrapolatedRate): the reset-adjusted in-window delta is extrapolated
        to the window edges, capped at 1.1x the average sample spacing (half
        a spacing beyond that), and for counters no further back than the
        point where the series would cross zero. One window join + one
        aggregate — same shuffle shape as the default path."""
        win_lo = eff - F.expr(f"INTERVAL {w_s} SECOND")
        j = F.broadcast(steps).join(df_all, (ts > win_lo) & (ts <= eff))
        is_counter = fn in ("rate", "increase")
        # consecutive pairs fully inside the window sum to the
        # reset-adjusted (last - first)
        pair_in = F.col("__prev_ts") > win_lo
        g = j.groupBy("__step", *label_cols).agg(
            F.count(val).alias("__n"),
            F.min_by(F.struct(val.alias("v"), ts.alias("t")), ts).alias("__first"),
            F.max_by(F.struct(val.alias("v"), ts.alias("t")), ts).alias("__last"),
            F.sum(F.when(pair_in, F.col("__delta"))).alias("__dsum"),
        )

        def ep(c):
            return F.unix_micros(c).cast("double") / F.lit(1e6)

        end_e = ep(eff)
        start_e = end_e - F.lit(float(w_s))
        first_t, last_t = ep(F.col("__first.t")), ep(F.col("__last.t"))
        n = F.col("__n").cast("double")
        sampled = last_t - first_t
        avg_bt = sampled / (n - F.lit(1.0))
        thr = avg_bt * F.lit(1.1)
        result = F.col("__dsum")
        dur_start = first_t - start_e
        dur_end = end_e - last_t
        if is_counter:
            dur_zero = sampled * (F.col("__first.v") / result)
            dur_start = F.when(
                (result > 0) & (F.col("__first.v") >= 0) & (dur_zero < dur_start),
                dur_zero,
            ).otherwise(dur_start)
        dur_start = F.when(dur_start >= thr, avg_bt / 2).otherwise(dur_start)
        dur_end = F.when(dur_end >= thr, avg_bt / 2).otherwise(dur_end)
        value = result * ((sampled + dur_start + dur_end) / sampled)
        if fn == "rate":
            value = value / F.lit(float(w_s))
        return g.where((F.col("__n") >= 2) & (sampled > 0)).select(
            "__step", *label_cols, value.alias("value")
        )

    def _over_time(self, steps, df, fn, ts, val, eff, w_s, label_cols, extra):
        j = F.broadcast(steps).join(
            df,
            (ts > eff - F.expr(f"INTERVAL {w_s} SECOND")) & (ts <= eff),
        )
        if fn == "absent_over_time":
            present = j.select("__step").distinct()
            return steps.join(present, on="__step", how="left_anti").select(
                "__step", F.lit(1.0).alias("value")
            )
        if fn == "holt_winters":
            # double exponential smoothing (prometheus functions.go
            # funcDoubleExponentialSmoothing): a sequential recurrence over
            # the window's samples in time order — expressed as a JVM-side
            # aggregate() fold over the per-(step, series) sample array, so
            # no Python touches the hot path
            sf_, tf_ = float(extra[0]), float(extra[1])
            arr = F.transform(
                F.array_sort(F.collect_list(F.struct(ts.alias("t"), val.alias("v")))),
                lambda s: s["v"],
            )
            g = j.groupBy("__step", *label_cols).agg(arr.alias("__vals"))
            trend = (
                f"IF(st.i = 0, st.b, {tf_!r}D * (st.s1 - st.s0) "
                f"+ (1.0D - {tf_!r}D) * st.b)"
            )
            fold = f"""
              CASE WHEN size(__vals) >= 2 THEN
                aggregate(
                  slice(__vals, 2, size(__vals) - 1),
                  named_struct(
                    's0', CAST(0.0 AS DOUBLE), 's1', __vals[0],
                    'b', __vals[1] - __vals[0], 'i', 0),
                  (st, x) -> named_struct(
                    's0', st.s1,
                    's1', {sf_!r}D * x + (1.0D - {sf_!r}D) * (st.s1 + {trend}),
                    'b', {trend},
                    'i', st.i + 1),
                  st -> st.s1)
              END
            """
            return g.select(
                "__step", *label_cols, F.expr(fold).alias("value")
            ).where(F.col("value").isNotNull())
        if fn == "mad_over_time":
            # experimental: median absolute deviation of the window samples
            # (functions.go funcMadOverTime): median(|x - median(x)|), both
            # medians with Prometheus's linear-interpolated quantile. One
            # sorted array per (step, series), medians as JVM-side array
            # expressions — same single-shuffle shape as quantile_over_time.
            def arr_median(a):
                n = F.size(a)
                rank = (n - F.lit(1)).cast("double") / F.lit(2.0)
                lo = F.floor(rank).cast("int") + F.lit(1)  # 1-based
                w = rank - F.floor(rank)
                hi = F.least(lo + F.lit(1), n)
                return (
                    F.element_at(a, lo) * (F.lit(1.0) - w)
                    + F.element_at(a, hi) * w
                )

            g = j.groupBy("__step", *label_cols).agg(
                F.array_sort(F.collect_list(val)).alias("__vals")
            )
            med = arr_median(F.col("__vals"))
            dev = F.array_sort(
                F.transform(F.col("__vals"), lambda x: F.abs(x - med))
            )
            return g.select(
                "__step", *label_cols, arr_median(dev).alias("value")
            ).where(F.col("value").isNotNull())  # all-NULL window: no row
        agg = {
            "avg_over_time": F.avg(val),
            "min_over_time": F.min(val),
            "max_over_time": F.max(val),
            "sum_over_time": F.sum(val),
            "count_over_time": F.count(val).cast("double"),
            "last_over_time": F.max_by(val, ts),
            "stddev_over_time": F.stddev_pop(val),
            "stdvar_over_time": F.var_pop(val),
            "present_over_time": F.max(F.lit(1.0)),
            "quantile_over_time": F.percentile(val, F.lit(float(extra or 0.5))),
        }[fn]
        return j.groupBy("__step", *label_cols).agg(agg.alias("value"))

    def _histogram_quantile(self, phi: float, inner: DataFrame) -> DataFrame:
        """Prometheus bucketQuantile (promql/quantile.go): per (step, series
        minus `le`) sort cumulative buckets by upper bound, find the first
        bucket reaching rank = phi * total, linear-interpolate inside it.
        bucketStart is 0 for the first bucket; a rank landing in the +Inf
        bucket returns the highest finite bound. Degenerate histograms
        (no +Inf, zero total, empty bucket span) yield NULL (Prometheus NaN).
        """
        rest = [c for c in inner.columns if c not in ("__step", "value", "le")]
        le_d = (
            F.when(F.col("le") == "+Inf", F.lit(float("inf")))
            .otherwise(F.col("le").cast("double"))
        )
        g = inner.groupBy("__step", *rest).agg(
            F.array_sort(
                F.collect_list(F.struct(le_d.alias("le"), F.col("value").alias("v")))
            ).alias("__b")
        )
        b = F.col("__b")
        n = F.size(b)
        total = F.element_at(b, -1).getField("v")
        rank = F.lit(phi) * total
        idx = F.size(F.filter(b, lambda x: x.getField("v") < rank)) + 1
        prev_le = F.when(idx > 1, F.element_at(b, idx - 1).getField("le")).otherwise(F.lit(0.0))
        prev_v = F.when(idx > 1, F.element_at(b, idx - 1).getField("v")).otherwise(F.lit(0.0))
        cur = F.element_at(b, F.least(idx, n))
        count = cur.getField("v") - prev_v
        value = (
            F.when(
                F.element_at(b, -1).getField("le") != float("inf"), F.lit(None)
            )  # no +Inf bucket -> undefined
            .when(total.isNull() | (total <= 0) | (n < 2), F.lit(None))
            .when(idx >= n, F.element_at(b, -2).getField("le"))
            .when(count <= 0, F.lit(None))
            .otherwise(
                prev_le + (cur.getField("le") - prev_le) * ((rank - prev_v) / count)
            )
        )
        return g.select("__step", *rest, value.alias("value"))

    # -- native histograms -------------------------------------------------
    #
    # Sample model: a nullable struct column (engine `hist_col`) with fields
    #   schema int          — Prometheus native-histogram schema; bucket
    #                         boundaries are powers of base = 2^(2^-schema)
    #   zero_count double   — observations in [-zero_threshold, zero_threshold]
    #   zero_threshold double
    #   count double, sum double
    #   pos_offset int, pos_counts array<double>  — bucket j covers
    #                         (base^(off+j), base^(off+j+1)]
    #   neg_offset int, neg_counts array<double>  — mirrored negative range
    # Dense offset+counts (the OTel exp-histogram layout, same convention as
    # metrics.exp_histogram_quantile) — Prometheus's span/delta wire encoding
    # is a transport detail, not a query-model one.
    #
    # Reference parity: the reference serves native histograms via Prometheus
    # passthrough (packages/api/src/routers/api/prometheus.ts:1-825); here
    # selector / rate|increase|delta / sum-aggregation / histogram_quantile|
    # count|sum|avg evaluate natively as row-local HOF plans. Documented
    # divergences: rate/increase take last-minus-first per window (window
    # treated as reset — last taken absolute — if any bucket/count/zero
    # decreased) instead of Prometheus's boundary extrapolation, matching
    # this engine's no-extrapolation float semantics; NULL where Prometheus
    # emits NaN.

    # The pre-r16 Column-by-Column builders (_h_elem/_h_down/_h_pair/
    # _h_struct) live on verbatim as the reference twin in
    # tests/test_promql_hist_sql_twin.py; the engine builds the same
    # expressions as SQL text via the module-level _sql_h_* helpers.

    def _native_hist_shape(self, node) -> bool:
        """True when `node` is an expression this engine can evaluate in
        histogram space: instant selector, rate/increase/delta over a
        selector window, or sum-aggregations thereof. Classic `le`-labelled
        queries keep the bucket path: a `_bucket` metric name, an `le`
        matcher, or `le` in a grouping clause all force classic.

        Known consequence: with a histogram column present,
        histogram_quantile over a FLOAT metric whose name lacks `_bucket`
        routes here and returns empty (every row's histogram is NULL)
        instead of the classic path's "needs an `le` label" error. This
        matches Prometheus, which silently ignores float series without
        `le` in histogram_quantile (at most a warn annotation) — the old
        eager ValueError was the divergence."""
        if self.hist_col is None:
            return False
        if isinstance(node, Selector):
            return (
                node.window_s is None
                and not node.name.endswith("_bucket")
                and not any(lbl == "le" for lbl, _, _ in node.matchers)
            )
        if (
            isinstance(node, RangeFn)
            and node.fn in ("rate", "increase", "delta")
            and isinstance(node.arg, Selector)
        ):
            s = node.arg
            return not s.name.endswith("_bucket") and not any(
                lbl == "le" for lbl, _, _ in s.matchers
            )
        if isinstance(node, Agg) and node.op in ("sum", "avg"):
            if node.by is not None and "le" in node.by:
                return False
            return self._native_hist_shape(node.arg)
        if isinstance(node, BinOp):
            # histogram arithmetic (Prometheus native-histogram operators):
            # h + h / h - h (bucket merge), scalar * h / h * scalar and
            # h / scalar (field scaling). Other operators and float-hist
            # mixes stay on the float path.
            if node.op in ("+", "-"):
                return self._native_hist_shape(node.left) and self._native_hist_shape(
                    node.right
                )
            if node.op == "*":
                return (
                    isinstance(node.left, NumberLit)
                    and self._native_hist_shape(node.right)
                ) or (
                    isinstance(node.right, NumberLit)
                    and self._native_hist_shape(node.left)
                )
            if node.op == "/":
                return isinstance(node.right, NumberLit) and self._native_hist_shape(
                    node.left
                )
            return False
        return False

    def _eval_hist(self, spark, node, start, end, step_s, lookback_s) -> DataFrame:
        """Memoizing front door for _eval_hist_impl (see _eval_memo)."""
        key = ("h", repr(node), start, end, step_s, lookback_s)
        out = self._eval_memo.get(key)
        if out is None:
            out = self._eval_hist_impl(spark, node, start, end, step_s, lookback_s)
            self._eval_memo[key] = out
        return out

    def _eval_hist_impl(self, spark, node, start, end, step_s, lookback_s) -> DataFrame:
        """Evaluate `node` to a histogram vector: (__step, labels..., __hist)."""
        if self.hist_col is None:
            raise ValueError(
                "native histograms are not available: this engine was built "
                "without a histogram sample column (hist_col); "
                "histogram_count/sum/avg need one"
            )
        h = F.col(self.hist_col)
        H, TS = sql_ident(self.hist_col), sql_ident(self.ts_col)
        canon = _sql_h_struct(
            f"{H}.schema", f"{H}.zero_count", f"{H}.zero_threshold",
            f"{H}.count", f"{H}.sum", f"{H}.pos_offset", f"{H}.pos_counts",
            f"{H}.neg_offset", f"{H}.neg_counts",
        )
        if isinstance(node, Selector) and node.window_s is None:
            df = self._filter(node).where(h.isNotNull())
            steps = self._steps(spark, start, end, step_s)
            ts = F.col(self.ts_col)
            eff = self._eff_step(node, start, end)
            j = F.broadcast(steps).join(
                df,
                (ts > eff - F.expr(f"INTERVAL {lookback_s} SECOND")) & (ts <= eff),
            )
            return j.groupBy("__step", *self.label_cols).agg(
                F.expr(f"max_by({canon}, {TS})").alias("__hist")
            )
        if (
            isinstance(node, RangeFn)
            and node.fn in ("rate", "increase", "delta")
            and isinstance(node.arg, Selector)
        ):
            sel = node.arg
            w_s = int(sel.window_s)
            df = self._filter(sel).where(h.isNotNull())
            steps = self._steps(spark, start, end, step_s)
            ts = F.col(self.ts_col)
            at = self._resolve_at(sel.at_s, start, end)
            eff = (
                F.timestamp_seconds(F.lit(at)) if at is not None else F.col("__step")
            )
            if sel.offset_s:
                eff = eff - F.expr(f"INTERVAL {int(sel.offset_s)} SECOND")
            j = F.broadcast(steps).join(
                df, (ts > eff - F.expr(f"INTERVAL {w_s} SECOND")) & (ts <= eff)
            )
            g = (
                j.groupBy("__step", *self.label_cols)
                .agg(
                    F.expr(f"min_by({canon}, {TS})").alias("__f"),
                    F.expr(f"max_by({canon}, {TS})").alias("__l"),
                    F.expr(f"count({TS})").alias("__n"),
                )
                .where(F.col("__n") >= 2)
            )
            # staged projections: each downscale/pair array is NAMED and so
            # evaluated once per row, where the former Column tree inlined
            # (and re-evaluated) it at every use site — same deterministic
            # values, one evaluation
            lbl = [sql_ident(c) for c in self.label_cols]
            keep = ["__step", *lbl, "__f", "__l"]
            s1 = g.selectExpr(
                *keep, "CAST(least(__f.schema, __l.schema) AS INT) AS __tgt"
            )

            def down(side: str, pre: str, var: str) -> str:
                o, c = _sql_h_down(
                    f"__{pre}.{side}_counts", f"__{pre}.{side}_offset",
                    f"__{pre}.schema - __tgt", var=var,
                )
                return f"named_struct('off', {o}, 'cnt', {c})"

            s2 = s1.selectExpr(
                *keep, "__tgt",
                f"{down('pos', 'f', 'fp')} AS __fp",
                f"{down('neg', 'f', 'fn')} AS __fn",
                f"{down('pos', 'l', 'lp')} AS __lp",
                f"{down('neg', 'l', 'ln')} AS __ln",
            )
            dp_off, dp_cnt = _sql_h_pair(
                "__lp.off", "__lp.cnt", "__fp.off", "__fp.cnt", "-", var="dp"
            )
            dn_off, dn_cnt = _sql_h_pair(
                "__ln.off", "__ln.cnt", "__fn.off", "__fn.cnt", "-", var="dn"
            )
            s3 = s2.selectExpr(
                *keep, "__tgt", "__lp", "__ln",
                f"named_struct('off', {dp_off}, 'cnt', {dp_cnt}) AS __dp",
                f"named_struct('off', {dn_off}, 'cnt', {dn_cnt}) AS __dn",
            )
            if node.fn == "delta":
                reset = "false"
            else:
                reset = (
                    "((__l.count < __f.count) OR "
                    "(__l.zero_count < __f.zero_count) OR "
                    "(coalesce(array_min(__dp.cnt) < 0, false)) OR "
                    "(coalesce(array_min(__dn.cnt) < 0, false)))"
                )
            scale = (
                f"(1.0D / {float(w_s)!r}D)" if node.fn == "rate" else "1.0D"
            )

            def pick(delta_c: str, abs_c: str) -> str:
                return (
                    f"(CASE WHEN {reset} THEN {abs_c} ELSE {delta_c} END)"
                    f" * {scale}"
                )

            def arr_scale(dc: str, ac: str) -> str:
                return (
                    f"transform(CASE WHEN {reset} THEN {ac} ELSE {dc} END, "
                    f"sx -> sx * {scale})"
                )

            out = _sql_h_struct(
                "__tgt",
                pick("__l.zero_count - __f.zero_count", "__l.zero_count"),
                "greatest(__f.zero_threshold, __l.zero_threshold)",
                pick("__l.count - __f.count", "__l.count"),
                pick("__l.sum - __f.sum", "__l.sum"),
                f"CASE WHEN {reset} THEN __lp.off ELSE __dp.off END",
                arr_scale("__dp.cnt", "__lp.cnt"),
                f"CASE WHEN {reset} THEN __ln.off ELSE __dn.off END",
                arr_scale("__dn.cnt", "__ln.cnt"),
            )
            return s3.selectExpr("__step", *lbl, f"{out} AS __hist")
        if isinstance(node, Agg) and node.op in ("sum", "avg"):
            inner = self._eval_hist(spark, node.arg, start, end, step_s, lookback_s)
            labels = [c for c in inner.columns if c not in ("__step", "__hist")]
            if node.without is not None:
                keep = [c for c in labels if c not in set(node.without)]
            else:
                keep = [c for c in (node.by or []) if c in inner.columns]
            g = inner.groupBy("__step", *keep).agg(
                F.collect_list("__hist").alias("__hs")
            )
            # staged projections (see the rate path): the downscaled array,
            # its non-empty filter, and the union bounds are NAMED columns,
            # evaluated once per row instead of re-inlined at each use
            lbl = [sql_ident(c) for c in keep]
            base = ["__step", *lbl, "__hs"]
            s1 = g.selectExpr(
                *base,
                "array_min(transform(__hs, tx -> tx.schema)) AS __tgt",
            )

            def down_all(side: str, var: str) -> str:
                o, c = _sql_h_down(
                    f"dx.{side}_counts", f"dx.{side}_offset",
                    "dx.schema - __tgt", var=var,
                )
                return (
                    f"transform(__hs, dx -> named_struct('off', {o}, "
                    f"'cnt', {c}))"
                )

            s2 = s1.selectExpr(
                *base, "__tgt",
                f"filter({down_all('pos', 'p')}, fx -> size(fx.cnt) > 0) AS __pne",
                f"filter({down_all('neg', 'n')}, fx -> size(fx.cnt) > 0) AS __nne",
            )

            def bounds(ne: str, pre: str) -> list:
                return [
                    f"array_min(transform({ne}, bx -> bx.off)) AS __{pre}lo",
                    f"array_max(transform({ne}, bx -> bx.off + size(bx.cnt) - 1))"
                    f" AS __{pre}hi",
                ]

            s3 = s2.selectExpr(
                *base, "__tgt", "__pne", "__nne",
                *bounds("__pne", "p"), *bounds("__nne", "n"),
            )

            def merged(ne: str, lo: str, hi: str, var: str) -> str:
                elem = _sql_h_elem(f"{var}x.cnt", f"{var}x.off", f"{var}i")
                return (
                    f"CASE WHEN size({ne}) = 0 THEN {_EMPTY_D} "
                    f"ELSE transform(sequence({lo}, {hi}), {var}i -> "
                    f"aggregate({ne}, 0.0D, ({var}a, {var}x) -> "
                    f"{var}a + ({elem}))) END"
                )

            p_off = "CAST(coalesce(__plo, 0) AS BIGINT)"
            n_off = "CAST(coalesce(__nlo, 0) AS BIGINT)"
            p_cnt = merged("__pne", "__plo", "__phi", "m")
            n_cnt = merged("__nne", "__nlo", "__nhi", "w")

            def ssum(field: str) -> str:
                return f"aggregate(__hs, 0.0D, (sa, sx) -> sa + sx.{field})"

            scalars = {f: ssum(f) for f in ("zero_count", "count", "sum")}
            zt = (
                "aggregate(__hs, 0.0D, (za, zx) -> "
                "greatest(za, zx.zero_threshold))"
            )
            if node.op == "avg":
                # avg of histograms = merged sum scaled by 1/n (Prometheus
                # aggregations.md: every bucket and scalar divides by the
                # number of merged histograms)
                inv = "(1.0D / CAST(size(__hs) AS DOUBLE))"
                scalars = {k: f"({v}) * {inv}" for k, v in scalars.items()}
                p_cnt = f"transform({p_cnt}, vx -> vx * {inv})"
                n_cnt = f"transform({n_cnt}, vx -> vx * {inv})"
            out = _sql_h_struct(
                "__tgt", scalars["zero_count"], zt, scalars["count"],
                scalars["sum"], p_off, p_cnt, n_off, n_cnt,
            )
            return s3.selectExpr("__step", *lbl, f"{out} AS __hist")
        if isinstance(node, BinOp):
            return self._eval_hist_binop(
                spark, node, start, end, step_s, lookback_s
            )
        raise ValueError(
            "native-histogram evaluation supports instant selectors, "
            "rate/increase/delta over a selector window, sum/avg "
            "aggregations, and histogram arithmetic (h+h, h-h, scalar*h, "
            f"h/scalar); got {type(node).__name__}"
        )

    def _eval_hist_binop(
        self, spark, node: "BinOp", start, end, step_s, lookback_s
    ) -> DataFrame:
        """Histogram arithmetic (Prometheus native-histogram operators;
        the reference reaches the same semantics via API passthrough,
        packages/api/src/routers/api/prometheus.ts):

        * ``h + h`` / ``h - h`` — one-to-one vector matching (same
          on/ignoring key reduction as the float path; group_left/right is
          a Prometheus error for histogram operands), operands aligned to
          the coarser schema with the sum-aggregation downscale machinery,
          then bucket-wise add/subtract over the union index range; count/
          zero_count/sum combine with the same operator and
          zero_threshold takes the max (the engine's merge convention, as
          in the sum aggregation).
        * ``scalar * h`` / ``h * scalar`` / ``h / scalar`` — every
          observation-weight field (count, zero_count, buckets) and the
          sum scale by the factor; schema/offsets/zero_threshold are
          untouched. Division by zero scales by +Inf, matching float-path
          division semantics.
        """
        lnum = isinstance(node.left, NumberLit)
        rnum = isinstance(node.right, NumberLit)
        if lnum or rnum:
            inner = self._eval_hist(
                spark, node.right if lnum else node.left, start, end, step_s,
                lookback_s,
            )
            k = float((node.left if lnum else node.right).value)
            if node.op == "*":
                factor = k
            else:  # "/" — shape check guarantees the scalar is on the right
                factor = float("inf") if k == 0.0 else 1.0 / k
            sc = (
                "CAST('Infinity' AS DOUBLE)"
                if factor == float("inf")
                else f"{factor!r}D"
            )
            out = _sql_h_struct(
                "__hist.schema",
                f"__hist.zero_count * {sc}",
                "__hist.zero_threshold",
                f"__hist.count * {sc}",
                f"__hist.sum * {sc}",
                "__hist.pos_offset",
                f"transform(__hist.pos_counts, kx -> kx * {sc})",
                "__hist.neg_offset",
                f"transform(__hist.neg_counts, kx -> kx * {sc})",
            )
            labels = [c for c in inner.columns if c not in ("__step", "__hist")]
            return inner.selectExpr(
                "__step", *[sql_ident(c) for c in labels], f"{out} AS __hist"
            )
        if node.group is not None:
            raise ValueError(
                "group_left/group_right is not allowed with histogram "
                "operands (Prometheus: many-to-one matching is a float-"
                "sample feature)"
            )
        lv = self._eval_hist(spark, node.left, start, end, step_s, lookback_s)
        rv = self._eval_hist(spark, node.right, start, end, step_s, lookback_s)
        lv_labels = [c for c in lv.columns if c not in ("__step", "__hist")]
        rv_labels = [c for c in rv.columns if c not in ("__step", "__hist")]
        if node.on is not None:
            keys = list(dict.fromkeys(node.on))
            for kcol in keys:
                if kcol not in lv.columns:
                    lv = lv.withColumn(kcol, F.lit(""))
                if kcol not in rv.columns:
                    rv = rv.withColumn(kcol, F.lit(""))
        else:
            ign = set(node.ignoring or [])
            keys = sorted((set(lv_labels) & set(rv_labels)) - ign)
        match_keys = ["__step"] + keys

        def _dup(side: str) -> str:
            return (
                f"vector matching is many-to-many: duplicate histogram "
                f"series in the {side} side for match group {keys}; "
                "aggregate each side first"
            )

        lv2 = _guard_unique(
            lv.select(*match_keys, "__hist"), match_keys, "__hist", _dup("left")
        )
        rv2 = _guard_unique(
            rv.select(*match_keys, F.col("__hist").alias("__rh")),
            match_keys,
            "__rh",
            _dup("right"),
        )
        j = lv2.join(rv2, on=match_keys, how="inner")
        # staged projections (see _eval_hist rate path): downscaled arrays
        # and pair results are named, single-evaluation columns
        mk = [sql_ident(c) for c in match_keys]
        s1 = j.selectExpr(
            *mk, "__hist", "__rh",
            "CAST(least(__hist.schema, __rh.schema) AS INT) AS __tgt",
        )

        def down(col: str, side: str, var: str) -> str:
            o, c = _sql_h_down(
                f"{col}.{side}_counts", f"{col}.{side}_offset",
                f"{col}.schema - __tgt", var=var,
            )
            return f"named_struct('off', {o}, 'cnt', {c})"

        s2 = s1.selectExpr(
            *mk, "__hist", "__rh", "__tgt",
            f"{down('__hist', 'pos', 'ap')} AS __ap",
            f"{down('__hist', 'neg', 'an')} AS __an",
            f"{down('__rh', 'pos', 'bp')} AS __bp",
            f"{down('__rh', 'neg', 'bn')} AS __bn",
        )
        op = "+" if node.op == "+" else "-"
        p_off, p_cnt = _sql_h_pair(
            "__ap.off", "__ap.cnt", "__bp.off", "__bp.cnt", op, var="pp"
        )
        n_off, n_cnt = _sql_h_pair(
            "__an.off", "__an.cnt", "__bn.off", "__bn.cnt", op, var="nn"
        )
        out = _sql_h_struct(
            "__tgt",
            f"(__hist.zero_count) {op} (__rh.zero_count)",
            "greatest(__hist.zero_threshold, __rh.zero_threshold)",
            f"(__hist.count) {op} (__rh.count)",
            f"(__hist.sum) {op} (__rh.sum)",
            p_off,
            p_cnt,
            n_off,
            n_cnt,
        )
        return s2.selectExpr(*mk, f"{out} AS __hist")

    def _native_histogram_quantile(self, phi: float, hv: DataFrame) -> DataFrame:
        """histogram_quantile over a native-histogram vector, row-local:
        assemble ascending buckets [reversed negatives, zero, positives],
        cumulate, pick the first bucket reaching rank = phi*total, linear-
        interpolate between the bucket bounds (promql/quantile.go
        histogramQuantile; the zero bucket's lower bound collapses to 0
        when there are no negative buckets). NULL for empty histograms."""
        labels = [c for c in hv.columns if c not in ("__step", "__hist")]
        lbl = [sql_ident(c) for c in labels]
        if phi < 0 or phi > 1:
            const = float("-inf") if phi < 0 else float("inf")
            return hv.select(
                "__step", *labels, F.lit(const).cast("double").alias("value")
            )
        bk = _sql_h_buckets(
            "__hist",
            "CASE WHEN size(__hist.neg_counts) > 0 "
            "THEN -__hist.zero_threshold ELSE 0.0D END",
            "__hist.zero_threshold",
        )
        staged = hv.selectExpr("*", f"({bk}) AS __b").selectExpr(
            "*", "transform(__b, cx -> cx.cnt) AS __cnts"
        ).selectExpr(
            "*",
            "transform(__cnts, (x, i) -> aggregate(slice(__cnts, 1, i + 1),"
            " CAST(0.0 AS DOUBLE), (a, c) -> a + c)) AS __cum",
        ).selectExpr(
            "*",
            # _sql_dlit, not raw interpolation: f"{phi}" would parse as a
            # DECIMAL literal (same value after decimal->double rounding,
            # but a different literal type from the Column twin and from
            # the rank expression below — r16 ADVICE #2)
            f"array_position(zip_with(__cum, __cnts, (c, n) -> n > 0 AND c >= "
            f"{_sql_dlit(phi)} * element_at(__cum, -1)), true) AS __i",
        ).selectExpr(
            "*",
            # guarded: array_position's 0 (no bucket reaches the rank) must
            # not reach element_at, which rejects index 0 at runtime — the
            # former Column tree never evaluated `cur` on that branch
            # because CASE WHEN is lazy
            "CASE WHEN __i > 0 THEN element_at(__b, CAST(__i AS INT)) END"
            " AS __cur",
            "element_at(__cum, -1) AS __tot",
        )
        rank = f"{_sql_dlit(phi)} * __tot"
        cum_before = (
            "CASE WHEN __i <= 1 THEN 0.0D "
            "ELSE element_at(__cum, CAST(__i - 1 AS INT)) END"
        )
        value = (
            "CAST(CASE WHEN (__tot IS NULL) OR (__tot <= 0) OR (__i <= 0) "
            "THEN NULL ELSE __cur.lower + (__cur.upper - __cur.lower) * "
            f"((({rank}) - ({cum_before})) / __cur.cnt) END AS DOUBLE)"
        )
        return staged.selectExpr("__step", *lbl, f"{value} AS value")

    def _native_histogram_stdvar(
        self, hv: DataFrame, *, sqrt: bool
    ) -> DataFrame:
        """histogram_stdvar / histogram_stddev over a native-histogram
        vector, row-local (promql/quantile.go histogramStdDev/StdVar):
        each bucket contributes count x (val − mean)² where val is the
        GEOMETRIC bucket midpoint sqrt(upper x lower) (negated for
        negative buckets, 0 for any bucket straddling zero), mean =
        sum/count, variance divides by count. Plain left-fold sum where
        the reference Kahan-compensates — documented divergence at the
        last ulp. Empty histogram → NULL."""
        labels = [c for c in hv.columns if c not in ("__step", "__hist")]
        lbl = [sql_ident(c) for c in labels]
        bk = _sql_h_buckets(
            "__hist", "-__hist.zero_threshold", "__hist.zero_threshold"
        )
        staged = hv.selectExpr("*", f"({bk}) AS __b")
        mean = "(__hist.sum / __hist.count)"
        mid = (
            "CASE WHEN (vb.lower <= 0) AND (vb.upper >= 0) THEN 0.0D "
            "ELSE CASE WHEN vb.upper < 0 THEN -SQRT(vb.upper * vb.lower) "
            "ELSE SQRT(vb.upper * vb.lower) END END"
        )
        d = f"(({mid}) - {mean})"
        term = f"CASE WHEN vb.cnt > 0 THEN vb.cnt * {d} * {d} ELSE 0.0D END"
        var = (
            f"(aggregate(__b, 0.0D, (va, vb) -> va + ({term}))"
            " / __hist.count)"
        )
        value = (
            "CAST(CASE WHEN (__hist.count IS NULL) OR (__hist.count <= 0) "
            f"THEN NULL ELSE {f'SQRT({var})' if sqrt else var} END AS DOUBLE)"
        )
        return staged.selectExpr("__step", *lbl, f"{value} AS value")

    def _native_histogram_fraction(
        self, lower: float, upper: float, hv: DataFrame
    ) -> DataFrame:
        """histogram_fraction(lower, upper, hv) over a native-histogram
        vector, row-local (promql/quantile.go histogramFraction): assemble
        the ascending bucket array (same layout as the quantile walk, plus
        the symmetric zero-bucket upper collapse to 0 when there are only
        negative buckets), compute rank(bound) = observations with value
        < bound via linear interpolation inside the straddling bucket, and
        return (rank(upper) − rank(lower)) / count. lower ≥ upper → 0;
        empty histogram → NULL (this engine's convention where Prometheus
        emits NaN — same divergence as the quantile path)."""
        labels = [c for c in hv.columns if c not in ("__step", "__hist")]
        lbl = [sql_ident(c) for c in labels]
        if lower >= upper:
            return hv.select(
                "__step", *labels, F.lit(0.0).cast("double").alias("value")
            )
        # zero bucket: a bound collapses to 0 only when exactly one side has
        # buckets (promql/quantile.go histogramFraction) — with neither pos
        # nor neg buckets the zero bucket keeps [-zt, zt], so interpolated
        # ranks inside (0, zt) stay symmetric (ADVICE r5)
        bk = _sql_h_buckets(
            "__hist",
            "CASE WHEN size(__hist.neg_counts) = 0 "
            "AND size(__hist.pos_counts) > 0 THEN 0.0D "
            "ELSE -__hist.zero_threshold END",
            "CASE WHEN size(__hist.pos_counts) = 0 "
            "AND size(__hist.neg_counts) > 0 THEN 0.0D "
            "ELSE __hist.zero_threshold END",
        )
        staged = hv.selectExpr("*", f"({bk}) AS __b")

        def rank_of(x: float, var: str) -> str:
            # observations below x: full buckets under x plus the linear
            # share of the straddling bucket — buckets starting at/after x
            # contribute nothing (ascending order makes this the loop's
            # "rank so far" in the reference walk)
            xl = _sql_dlit(x)
            va, vb = f"{var}a", f"{var}b"
            return (
                f"aggregate(__b, 0.0D, ({va}, {vb}) -> {va} + "
                f"CASE WHEN {vb}.lower >= {xl} THEN 0.0D "
                f"WHEN {vb}.upper > {xl} "
                f"THEN {vb}.cnt * ({xl} - {vb}.lower) / ({vb}.upper - {vb}.lower) "
                f"ELSE {vb}.cnt END)"
            )

        lr = f"least({rank_of(lower, 'l')}, __hist.count)"
        ur = f"least({rank_of(upper, 'u')}, __hist.count)"
        value = (
            "CAST(CASE WHEN (__hist.count IS NULL) OR (__hist.count <= 0) "
            f"THEN NULL ELSE (({ur}) - ({lr})) / __hist.count END AS DOUBLE)"
        )
        return staged.selectExpr("__step", *lbl, f"{value} AS value")

    _REAGG = {"sum": F.sum, "min": F.min, "max": F.max}

    def _eval_binop_sides(self, spark, node, start, end, step_s, lookback_s):
        """Evaluate both sides of a vector binop, factoring the common
        subplan when one side is a coarser re-aggregation of the other —
        the share-of-total idiom `sum by (a,b) (X) / on(a) group_left
        sum by (a) (X)` then scans X ONCE instead of twice (sum/min/max
        re-aggregate exactly; count re-aggregates as sum of counts)."""
        l, r = node.left, node.right
        if (
            isinstance(l, Agg)
            and isinstance(r, Agg)
            and l.arg == r.arg  # deep dataclass equality on the inner expr
            and l.op == r.op
            and l.op in ("sum", "min", "max", "count")
            and l.by is not None
            and r.by is not None
            and set(l.by) != set(r.by)
        ):
            if set(r.by) < set(l.by):
                fine_node, coarse_by, coarse_is_left = l, r.by, False
            elif set(l.by) < set(r.by):
                fine_node, coarse_by, coarse_is_left = r, l.by, True
            else:
                fine_node = None
            if fine_node is not None:
                fine = self._eval(spark, fine_node, start, end, step_s, lookback_s)
                # materialize the fine vector once: plan-level exchange reuse
                # does not fire across the two branches (column pruning
                # specializes their copies), and the aggregated vector is
                # small by construction (<= steps x series rows) — so one
                # local checkpoint turns two full scans of the raw samples
                # into one. The checkpoint is a persistent RDD until the
                # query's scope frees it (query_range is scoped)
                fine = local_checkpoint(fine, eager=True)
                reagg = self._REAGG.get(l.op, F.sum)  # count -> sum of counts
                coarse = fine.groupBy("__step", *coarse_by).agg(
                    reagg("value").alias("value")
                )
                return (coarse, fine) if coarse_is_left else (fine, coarse)
        lv = self._eval(spark, l, start, end, step_s, lookback_s)
        rv = self._eval(spark, r, start, end, step_s, lookback_s)
        return lv, rv

    @staticmethod
    def _cmp_cond(op: str, a: Column, b) -> Column:
        return {
            "==": a == b,
            "!=": a != b,
            ">": a > b,
            "<": a < b,
            ">=": a >= b,
            "<=": a <= b,
        }[op]

    def _compare(self, spark, node: "Compare", start, end, step_s, lookback_s) -> DataFrame:
        """Comparison binary operators (operators.md): filter semantics by
        default (keep left elements where the comparison holds, value
        unchanged); `bool` yields 0/1 for every matched element. Vector-
        vector matching uses the same on/ignoring key reduction as
        arithmetic; the right side must be unique per match group."""
        lnum = isinstance(node.left, NumberLit)
        rnum = isinstance(node.right, NumberLit)
        if lnum and rnum:
            raise ValueError("scalar-only comparisons are not supported")
        if lnum or rnum:
            vec = self._eval(
                spark, node.right if lnum else node.left, start, end, step_s, lookback_s
            )
            k = (node.left if lnum else node.right).value
            v = F.col("value")
            cond = (
                self._cmp_cond(node.op, F.lit(k), v)
                if lnum
                else self._cmp_cond(node.op, v, F.lit(k))
            )
            if node.bool_mode:
                return vec.withColumn("value", cond.cast("int").cast("double"))
            return vec.where(cond)
        lv = self._eval(spark, node.left, start, end, step_s, lookback_s)
        rv = self._eval(spark, node.right, start, end, step_s, lookback_s)
        lv_labels = [c for c in lv.columns if c not in ("__step", "value")]
        rv_labels = [c for c in rv.columns if c not in ("__step", "value")]
        if node.on is not None:
            keys = list(dict.fromkeys(node.on))
            for k in keys:
                if k not in lv.columns:
                    lv = lv.withColumn(k, F.lit(""))
                if k not in rv.columns:
                    rv = rv.withColumn(k, F.lit(""))
        else:
            ign = set(node.ignoring or [])
            keys = sorted((set(lv_labels) & set(rv_labels)) - ign)
        match_keys = ["__step"] + keys
        if node.group == "right":
            # many side = right: compare right elements against the (unique)
            # left value per group; output keeps the right side's labels
            many, one, one_is_left = rv, lv, True
        else:
            many, one, one_is_left = lv, rv, False
        side = "left" if one_is_left else "right"
        hint = (
            ""
            if node.group
            else "; use group_left/group_right for many-to-one matching"
        )
        one2 = _guard_unique(
            one.select(*match_keys, F.col("value").alias("__ov")),
            match_keys,
            "__ov",
            f"comparison matching is many-to-many: duplicate series on the "
            f"{side} side for match group {keys}{hint}",
        )
        if node.group is None:
            # one-to-one: the many side must be unique too
            many = _guard_unique(
                many,
                match_keys,
                "value",
                f"comparison matching is many-to-many: duplicate series on "
                f"the left side for match group {keys}; use "
                "group_left/group_right for many-to-one matching",
            )
        j = many.join(one2, on=match_keys, how="inner")
        a = F.col("__ov") if one_is_left else F.col("value")
        b = F.col("value") if one_is_left else F.col("__ov")
        cond = self._cmp_cond(node.op, a, b)
        many_labels = rv_labels if node.group == "right" else lv_labels
        if node.bool_mode:
            return j.select(
                *match_keys,
                *[c for c in many_labels if c not in keys],
                cond.cast("int").cast("double").alias("value"),
            )
        return j.where(cond).drop("__ov")

    def _vector_binop(self, node: "BinOp", lv: DataFrame, rv: DataFrame) -> DataFrame:
        """Prometheus vector matching (operators: one-to-one and many-to-one).

        * default / `ignoring(...)`: match on the shared label set (minus the
          ignored labels); result labels = the match labels.
        * `on(l1, ...)`: match on exactly those labels; result labels = the
          on() labels (one-to-one) — a label missing on one side matches as
          the empty string, like an absent Prometheus label.
        * `group_left/group_right[(extra)]`: many-to-one — the "many" side
          keeps ALL its labels, plus any `extra` labels copied from the "one"
          side; the one side must be unique per match group (error if not).

        Reference parity: the reference passes the full language to a
        Prometheus API (packages/api/src/routers/api/prometheus.ts:1-825);
        this evaluates the same shapes natively as DataFrame joins.
        """
        lv_labels = [c for c in lv.columns if c not in ("__step", "value")]
        rv_labels = [c for c in rv.columns if c not in ("__step", "value")]
        if node.on is not None:
            keys = list(dict.fromkeys(node.on))  # keep order, dedupe
            # an absent label matches as "" (Prometheus missing-label value)
            for k in keys:
                if k not in lv.columns:
                    lv = lv.withColumn(k, F.lit(""))
                if k not in rv.columns:
                    rv = rv.withColumn(k, F.lit(""))
        else:
            ign = set(node.ignoring or [])
            keys = sorted((set(lv_labels) & set(rv_labels)) - ign)
        match_keys = ["__step"] + keys

        def _dup_msg(name: str) -> str:
            return (
                f"vector matching is many-to-many: duplicate series in the "
                f"{name} side for match group {keys}; use "
                "group_left/group_right for many-to-one matching or "
                "aggregate each side first"
            )

        a, b = F.col("value"), F.col("__rv")
        op_expr = _binop_expr(node.op, a, b)

        if node.group is None:
            lv2 = _guard_unique(
                lv.select(*match_keys, "value"), match_keys, "value", _dup_msg("left")
            )
            rv2 = _guard_unique(
                rv.select(*match_keys, F.col("value").alias("__rv")),
                match_keys,
                "__rv",
                _dup_msg("right"),
            )
            j = lv2.join(rv2, on=match_keys, how="inner")
            return j.select(*match_keys, op_expr.alias("value"))

        # many-to-one: `many` keeps all its labels (+ copied extras)
        many, one = (lv, rv) if node.group == "left" else (rv, lv)
        extras = [g for g in node.group_labels if g not in keys]
        one_cols = [*match_keys, F.col("value").alias("__one_v")] + [
            F.col(g).alias(f"__x_{g}") for g in extras
        ]
        one2 = _guard_unique(
            one.select(*one_cols),
            match_keys,
            "__one_v",
            _dup_msg("one (group_" + node.group + ")"),
        )
        many_labels = lv_labels if node.group == "left" else rv_labels
        many2 = many.select(*match_keys, *[c for c in many_labels if c not in keys], "value")
        j = many2.join(one2, on=match_keys, how="inner")
        # restore operand orientation: op is always left-op-right
        if node.group == "left":
            j = j.withColumn("__rv", F.col("__one_v"))
        else:
            j = j.withColumn("__rv", F.col("value")).withColumn(
                "value", F.col("__one_v")
            )
        out_labels = [c for c in many_labels if c not in keys]
        return j.select(
            *match_keys,
            *out_labels,
            *[F.col(f"__x_{g}").alias(g) for g in extras],
            op_expr.alias("value"),
        )

    # -- public ------------------------------------------------------------

    def label_values_df(self, name: str):
        """Lazy core of label_values: the distinct non-null values for a
        label as an UNORDERED one-column ('val') DataFrame, or None for an
        unknown label. Lets callers fold the distinct into a larger plan
        (one job) instead of paying an eager collect per label."""
        if not _PROM_LABEL_NAME_RE.match(name):
            raise ValueError("Invalid label name")
        if name == "__name__":
            col = self.name_col
        elif name in self.label_cols:
            col = name
        else:
            return None
        return (
            self.samples.select(F.col(col).alias("val"))
            .where(F.col("val").isNotNull())
            .distinct()
        )

    def label_values(self, name: str) -> list:
        """GET /label/:name/values (prometheus.ts:713-810): the label-name
        grammar is validated first ('Invalid label name'); '__name__' lists
        distinct metric names, any other label lists its distinct non-null
        values, both sorted; an unknown label is an empty list (the
        reference's mapContains filter matches nothing). The collect is the
        API response itself, bounded by label cardinality."""
        df = self.label_values_df(name)
        if df is None:
            return []
        return [r["val"] for r in df.orderBy("val").collect()]

    @scoped
    def query_range(
        self,
        spark: SparkSession,
        query: str,
        start: datetime,
        end: datetime,
        step_s: int,
        lookback_s: int = DEFAULT_LOOKBACK_S,
    ) -> DataFrame:
        """Prometheus /query_range: rows (__step, labels..., value)."""
        node = parse(query, experimental=self.experimental)
        return self._eval(spark, node, start, end, step_s, lookback_s)

    def _eval(self, spark, node, start, end, step_s, lookback_s) -> DataFrame:
        """Memoizing front door for _eval_impl (see _eval_memo)."""
        memo = getattr(self, "_eval_memo", None)
        if memo is None:
            return PromQLEngine._eval_impl(self, spark, node, start, end, step_s, lookback_s)
        key = ("v", repr(node), start, end, step_s, lookback_s)
        out = memo.get(key)
        if out is None:
            out = self._eval_impl(spark, node, start, end, step_s, lookback_s)
            memo[key] = out
        return out

    def _eval_impl(self, spark, node, start, end, step_s, lookback_s) -> DataFrame:
        if isinstance(node, NumberLit):
            raise ValueError("bare scalar queries are not supported")
        if isinstance(node, Selector):
            if node.window_s is not None:
                raise ValueError("range selector needs a range function")
            return self._instant(spark, node, start, end, step_s, lookback_s)
        if isinstance(node, RangeFn):
            return self._range_fn(spark, node.fn, node.arg, start, end, step_s)
        if isinstance(node, QuantileOverTime):
            return self._range_fn(
                spark, "quantile_over_time", node.arg, start, end, step_s,
                lookback_s, extra=node.phi,
            )
        if isinstance(node, PredictLinear):
            return self._range_fn(
                spark, "predict_linear", node.arg, start, end, step_s,
                lookback_s, extra=node.t_s,
            )
        if isinstance(node, HoltWinters):
            return self._range_fn(
                spark, "holt_winters", node.arg, start, end, step_s,
                lookback_s, extra=(node.sf, node.tf),
            )
        if isinstance(node, Timestamp):
            if isinstance(node.arg, Selector) and node.arg.window_s is None:
                # instant selector: the ORIGINAL sample's time (the
                # documented use-case — e.g. time() - timestamp(up))
                sel = node.arg
                df = self._filter(sel)
                steps = self._steps(spark, start, end, step_s)
                ts = F.col(self.ts_col)
                eff = self._eff_step(sel, start, end)
                j = F.broadcast(steps).join(
                    df,
                    (ts > eff - F.expr(f"INTERVAL {lookback_s} SECOND"))
                    & (ts <= eff),
                )
                return j.groupBy("__step", *self.label_cols).agg(
                    (F.unix_micros(F.max(ts)).cast("double") / F.lit(1e6)).alias(
                        "value"
                    )
                )
            # derived vectors carry the evaluation (step) time
            inner = self._eval(spark, node.arg, start, end, step_s, lookback_s)
            return inner.withColumn(
                "value", F.unix_micros(F.col("__step")).cast("double") / F.lit(1e6)
            )
        if isinstance(node, MathFn):
            inner = self._eval(spark, node.arg, start, end, step_s, lookback_s)
            v = F.col("value")
            if node.fn == "clamp_min":
                newv = F.greatest(v, F.lit(node.scalars[0]))
            elif node.fn == "clamp_max":
                newv = F.least(v, F.lit(node.scalars[0]))
            elif node.fn == "clamp":
                mn, mx = node.scalars
                newv = (
                    F.lit(None).cast("double")
                    if mn > mx
                    else F.least(F.greatest(v, F.lit(mn)), F.lit(mx))
                )
            elif node.fn == "round":
                to = node.scalars[0] if node.scalars else 1.0
                # prometheus round: nearest multiple, ties rounded up
                newv = F.floor(v / F.lit(to) + F.lit(0.5)) * F.lit(to)
            elif node.fn in ("sort", "sort_desc"):
                # presentation-order only (prometheus sorts instant vectors
                # by value); values/labels pass through untouched
                return inner.orderBy(
                    "__step",
                    F.col("value").desc() if node.fn == "sort_desc" else F.col("value").asc(),
                )
            elif node.fn in ("sort_by_label", "sort_by_label_desc"):
                # presentation order by label values (missing label sorts
                # as empty string, like an absent Prometheus label)
                desc = node.fn.endswith("_desc")
                keys = [
                    (
                        F.coalesce(F.col(l), F.lit(""))
                        if l in inner.columns
                        else F.lit("")
                    )
                    for l in node.scalars
                ]
                return inner.orderBy(
                    "__step", *[(k.desc() if desc else k.asc()) for k in keys]
                )
            elif node.fn in _TIME_COMPONENT_FNS:
                t = "timestamp_seconds(CAST(value AS BIGINT))"
                newv = F.expr(_TIME_COMPONENT_FNS[node.fn].format(t=t))
            else:
                newv = F.expr(_MATH_FNS[node.fn].format(v="value"))
            return inner.withColumn("value", newv.cast("double"))
        if isinstance(node, Compare):
            return self._compare(spark, node, start, end, step_s, lookback_s)
        if isinstance(node, TimeFn):
            return self._steps(spark, start, end, step_s).select(
                "__step", F.col("__step_epoch").cast("double").alias("value")
            )
        if isinstance(node, VectorFn):
            return self._steps(spark, start, end, step_s).select(
                "__step", F.lit(node.value).alias("value")
            )
        if isinstance(node, ScalarFn):
            inner = self._eval(spark, node.arg, start, end, step_s, lookback_s)
            per_step = inner.groupBy("__step").agg(
                F.count("value").alias("__n"), F.min("value").alias("__v")
            )
            steps = self._steps(spark, start, end, step_s).select("__step")
            return steps.join(per_step, on="__step", how="left").select(
                "__step",
                F.when(F.col("__n") == 1, F.col("__v"))
                .otherwise(F.lit(float("nan")))
                .alias("value"),
            )
        if isinstance(node, SetOp):
            lv = self._eval(spark, node.left, start, end, step_s, lookback_s)
            rv = self._eval(spark, node.right, start, end, step_s, lookback_s)
            lv_labels = [c for c in lv.columns if c not in ("__step", "value")]
            rv_labels = [c for c in rv.columns if c not in ("__step", "value")]
            if node.on is not None:
                keys = list(dict.fromkeys(node.on))
                for k in keys:
                    if k not in lv.columns:
                        lv = lv.withColumn(k, F.lit(""))
                    if k not in rv.columns:
                        rv = rv.withColumn(k, F.lit(""))
            else:
                ign = set(node.ignoring or [])
                keys = sorted((set(lv_labels) & set(rv_labels)) - ign)
            match_keys = ["__step"] + keys
            if node.op == "and":
                return lv.join(rv.select(*match_keys).distinct(), on=match_keys, how="left_semi")
            if node.op == "unless":
                return lv.join(rv.select(*match_keys).distinct(), on=match_keys, how="left_anti")
            # or: all left elements + right elements whose match group has no
            # left series; labels unique to one side null-fill on the other
            right_only = rv.join(
                lv.select(*match_keys).distinct(), on=match_keys, how="left_anti"
            )
            return lv.unionByName(right_only, allowMissingColumns=True)
        if isinstance(node, Agg):
            if node.op == "count" and self._native_hist_shape(node.arg):
                # Prometheus count() counts elements of BOTH sample kinds:
                # float elements via the regular path plus native-histogram
                # elements (each side contributes zero rows when the metric
                # carries only the other kind, so float-only metrics are
                # unchanged by this branch)
                hv = self._eval_hist(
                    spark, node.arg, start, end, step_s, lookback_s
                )
                hl = [c for c in hv.columns if c not in ("__step", "__hist")]
                fv = self._eval(
                    spark, node.arg, start, end, step_s, lookback_s
                ).where(F.col("value").isNotNull())
                if node.without is not None:
                    keep = [c for c in hl if c not in set(node.without)]
                else:
                    keep = [c for c in (node.by or []) if c in hv.columns]
                ones = hv.select("__step", *keep).unionByName(
                    fv.select("__step", *keep)
                )
                return ones.groupBy("__step", *keep).agg(
                    F.count("*").cast("double").alias("value")
                )
            inner = self._eval(spark, node.arg, start, end, step_s, lookback_s)
            label_cols = [c for c in inner.columns if c not in ("__step", "value")]
            if node.without is not None:
                keep = [c for c in label_cols if c not in set(node.without)]
            else:
                # a grouping label absent from the operand matches as the
                # empty/missing label (Prometheus drops it), same as TopK
                keep = [
                    c for c in (node.by or []) if c in inner.columns
                ]
            if node.op == "count_values":
                lbl = str(node.param)
                # canonical value string: integral -> no fraction part
                fmt = F.when(
                    F.col("value").cast("bigint").cast("double") == F.col("value"),
                    F.col("value").cast("bigint").cast("string"),
                ).otherwise(F.col("value").cast("string"))
                return (
                    inner.withColumn(lbl, fmt)
                    .groupBy("__step", *keep, lbl)
                    .agg(F.count("value").cast("double").alias("value"))
                )
            if node.op == "quantile":
                phi = float(node.param)
                if not (0.0 <= phi <= 1.0):
                    # Prometheus: out-of-range phi yields -Inf / +Inf
                    const = float("-inf") if phi < 0 else float("inf")
                    return (
                        inner.groupBy("__step", *keep)
                        .agg(F.first(F.lit(const)).alias("value"))
                    )
                return (
                    inner.groupBy("__step", *keep)
                    .agg(F.percentile("value", F.lit(phi)).alias("value"))
                )
            if node.op == "group":
                return (
                    inner.groupBy("__step", *keep)
                    .agg(F.first(F.lit(1.0)).alias("value"))
                )
            op = {
                "sum": F.sum,
                "avg": F.avg,
                "min": F.min,
                "max": F.max,
                # PromQL sample values are always float64, count included
                "count": lambda c: F.count(c).cast("double"),
                "stddev": F.stddev_pop,  # Prometheus stddev is population
                "stdvar": F.var_pop,
            }[node.op]
            return inner.groupBy("__step", *keep).agg(op("value").alias("value"))
        if isinstance(node, HistogramQuantile):
            if self._native_hist_shape(node.arg):
                hv = self._eval_hist(spark, node.arg, start, end, step_s, lookback_s)
                return self._native_histogram_quantile(node.phi, hv)
            inner = self._eval(spark, node.arg, start, end, step_s, lookback_s)
            if "le" not in inner.columns:
                raise ValueError("histogram_quantile needs an `le` label on its argument")
            return self._histogram_quantile(node.phi, inner)
        if isinstance(node, HistFn):
            hv = self._eval_hist(spark, node.arg, start, end, step_s, lookback_s)
            labels = [c for c in hv.columns if c not in ("__step", "__hist")]
            if node.fn in ("stddev", "stdvar"):
                return self._native_histogram_stdvar(
                    hv, sqrt=(node.fn == "stddev")
                )
            hh = F.col("__hist")
            val = {
                "count": hh["count"],
                "sum": hh["sum"],
                "avg": F.when(hh["count"] > 0, hh["sum"] / hh["count"]),
            }[node.fn]
            return hv.select(
                "__step", *labels, val.cast("double").alias("value")
            )
        if isinstance(node, HistogramFraction):
            hv = self._eval_hist(spark, node.arg, start, end, step_s, lookback_s)
            return self._native_histogram_fraction(node.lower, node.upper, hv)
        if isinstance(node, Absent):
            inner = self._eval(spark, node.arg, start, end, step_s, lookback_s)
            steps = self._steps(spark, start, end, step_s)
            present = inner.select("__step").distinct()
            return (
                steps.join(present, on="__step", how="left_anti")
                .select("__step", F.lit(1.0).alias("value"))
            )
        if isinstance(node, LabelReplace):
            inner = self._eval(spark, node.arg, start, end, step_s, lookback_s)
            src = (
                F.coalesce(F.col(node.src), F.lit(""))
                if node.src in inner.columns
                else F.lit("")
            )
            anchored = f"^(?:{node.regex})$"
            # full-match -> dst = replacement ($1.. expanded); else unchanged
            replaced = F.regexp_replace(src, anchored, node.replacement)
            cur = F.col(node.dst) if node.dst in inner.columns else F.lit("")
            newv = F.when(src.rlike(anchored), replaced).otherwise(cur)
            return inner.withColumn(node.dst, newv)
        if isinstance(node, LabelJoin):
            inner = self._eval(spark, node.arg, start, end, step_s, lookback_s)
            parts = [
                F.col(s) if s in inner.columns else F.lit("") for s in node.srcs
            ]
            return inner.withColumn(node.dst, F.concat_ws(node.sep, *parts))
        if isinstance(node, TopK):
            inner = self._eval(spark, node.arg, start, end, step_s, lookback_s)
            label_cols = [c for c in inner.columns if c not in ("__step", "value")]
            if node.without is not None:
                grp = [c for c in label_cols if c not in set(node.without)]
            elif node.by is not None:
                grp = [c for c in node.by if c in inner.columns]
            else:
                grp = []
            order = F.desc("value") if node.op == "topk" else F.asc("value")
            w = Window.partitionBy("__step", *grp).orderBy(order, *[F.asc(c) for c in label_cols])
            return (
                inner.withColumn("__rk", F.row_number().over(w))
                .where(F.col("__rk") <= node.k)
                .drop("__rk")
            )
        if isinstance(node, LimitK):
            # experimental limitk / limit_ratio: deterministic hash-based
            # series subset (upstream selects by series-labels hash so the
            # pick is stable for a given series set). Hash = md5 over the
            # label tuple — replayable by a SQL oracle, uniform enough for
            # the sampling semantics. limit_ratio(r) and limit_ratio(r-1)
            # partition the vector exactly (complementary hash ranges).
            inner = self._eval(spark, node.arg, start, end, step_s, lookback_s)
            label_cols = [c for c in inner.columns if c not in ("__step", "value")]
            if node.without is not None:
                grp = [c for c in label_cols if c not in set(node.without)]
            elif node.by is not None:
                grp = [c for c in node.by if c in inner.columns]
            else:
                grp = []
            key = F.md5(
                F.concat_ws(
                    "\x1f",
                    *[F.coalesce(F.col(c), F.lit("")) for c in label_cols],
                )
            )
            if node.op == "limitk":
                w = Window.partitionBy("__step", *grp).orderBy(
                    key.asc(), *[F.asc(c) for c in label_cols]
                )
                return (
                    inner.withColumn("__rk", F.row_number().over(w))
                    .where(F.col("__rk") <= int(node.param))
                    .drop("__rk")
                )
            # limit_ratio: first 8 hex chars of the hash -> fraction in
            # [0, 1); r >= 0 keeps frac < r, r < 0 keeps the complement
            frac = F.conv(F.substring(key, 1, 8), 16, 10).cast("double") / F.lit(
                4294967296.0
            )
            r = float(node.param)
            keep = (frac < F.lit(r)) if r >= 0 else (frac >= F.lit(1.0 + r))
            return inner.where(keep)
        if isinstance(node, BinOp):
            lnum = isinstance(node.left, NumberLit)
            rnum = isinstance(node.right, NumberLit)
            if lnum and rnum:
                raise ValueError("scalar-only arithmetic is not supported")
            # time()/scalar() operands are Prometheus scalars: element-wise
            # against every series of the other side, no label matching
            lscal = isinstance(node.left, (TimeFn, ScalarFn))
            rscal = isinstance(node.right, (TimeFn, ScalarFn))
            if (lscal or rscal) and not (lnum or rnum):
                lv = self._eval(spark, node.left, start, end, step_s, lookback_s)
                rv = self._eval(spark, node.right, start, end, step_s, lookback_s)
                if lscal and not rscal:
                    scal, vec, scal_left = lv, rv, True
                elif rscal and not lscal:
                    scal, vec, scal_left = rv, lv, False
                else:  # both scalar: plain per-step arithmetic
                    scal, vec, scal_left = lv, rv, True
                s2 = scal.select("__step", F.col("value").alias("__sv"))
                j = vec.join(s2, on="__step", how="inner")
                a = F.col("__sv") if scal_left else F.col("value")
                b = F.col("value") if scal_left else F.col("__sv")
                expr = _binop_expr(node.op, a, b)
                keep = [c for c in vec.columns if c != "value"]
                return j.select(*keep, expr.alias("value"))
            if not lnum and not rnum:
                lv, rv = self._eval_binop_sides(
                    spark, node, start, end, step_s, lookback_s
                )
                return self._vector_binop(node, lv, rv)
            vec = self._eval(
                spark, node.right if lnum else node.left, start, end, step_s, lookback_s
            )
            k = (node.left if lnum else node.right).value
            v = F.col("value")
            expr = (
                _binop_expr(node.op, F.lit(k), v)
                if lnum
                else _binop_expr(node.op, v, F.lit(k))
            )
            return vec.withColumn("value", expr)
        raise TypeError(f"unknown node {node!r}")
