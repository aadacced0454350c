"""Dashboard filter-state → SQL predicates.

Reference: ``packages/common-utils/src/filters.ts:44-141``. A ``FilterState``
is the UI's per-field selection model — a set of *included* values, a set of
*excluded* values, and an optional numeric *range* — fanned into every tile's
``filters`` array as plain SQL conditions:

* included  → ``key IN ('a', 'b')``
* excluded  → ``key NOT IN ('c')``
* range     → ``key BETWEEN min AND max``

Divergences from the reference, by design:

* values render **sorted** (the reference emits JS ``Set`` insertion order) so
  the generated SQL — and therefore the compiled plan — is deterministic;
* DateTime-typed columns wrap values in Spark ``to_timestamp``/``to_date``
  instead of ClickHouse ``parseDateTime*BestEffort`` (filters.ts
  ``dateTimeValueExpr``);
* ``stringifyKeys`` wraps the key in ``CAST(key AS STRING)`` rather than
  ClickHouse ``toString`` (same intent: compare Dynamic/JSON keys textually).

The emitted conditions are ordinary :class:`hyperdx_spark.model.SqlFilter`
rows, so they ride the existing WHERE assembly (`compile._where_sql`) and
reach the parquet scan as pushed predicates — an IN-list over a partition or
stats-indexed column prunes files/row-groups at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Mapping, Optional, Union

from hyperdx_spark.lucene.serializer import _sql_str
from hyperdx_spark.model import SqlFilter

Value = Union[str, bool]


@dataclass
class FilterSelection:
    """One field's selection (filters.ts FilterState values)."""

    included: set[Value] = field(default_factory=set)
    excluded: set[Value] = field(default_factory=set)
    range: Optional[tuple[float, float]] = None  # numeric (min, max)


FilterState = Mapping[str, FilterSelection]


def _fmt_value(v: Value, dt_type: Optional[str]) -> str:
    """Render one literal; DateTime/Date columns get a parse wrapper so the
    comparison is typed (filters.ts dateTimeValueExpr analogue)."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    lit = _sql_str(v)
    if dt_type is None:
        return lit
    if dt_type.lower().startswith("date") and "time" not in dt_type.lower():
        return f"to_date({lit})"
    return f"to_timestamp({lit})"


def _sorted(values: set[Value]) -> list[Value]:
    # stable output: bools first (False < True), then strings sorted
    return sorted(values, key=lambda v: (isinstance(v, str), v))


def filters_to_query(
    state: FilterState,
    *,
    stringify_keys: bool = False,
    datetime_columns: Optional[Mapping[str, str]] = None,
) -> list[SqlFilter]:
    """FilterState → list of SqlFilter conditions (filters.ts:44-102).

    Fields with nothing selected emit nothing; a field with included,
    excluded AND range selections emits up to three conditions (the WHERE
    assembly ANDs them, same as the reference's filters array).
    """
    out: list[SqlFilter] = []
    for key, sel in state.items():
        if not (sel.included or sel.excluded or sel.range is not None):
            continue
        actual_key = f"CAST({key} AS STRING)" if stringify_keys else key
        dt_type = None if stringify_keys else (datetime_columns or {}).get(key)
        if sel.included:
            vals = ", ".join(_fmt_value(v, dt_type) for v in _sorted(sel.included))
            out.append(SqlFilter(condition=f"{actual_key} IN ({vals})"))
        if sel.excluded:
            vals = ", ".join(_fmt_value(v, dt_type) for v in _sorted(sel.excluded))
            out.append(SqlFilter(condition=f"{actual_key} NOT IN ({vals})"))
        if sel.range is not None:
            lo, hi = sel.range
            out.append(SqlFilter(condition=f"{actual_key} BETWEEN {lo!r} AND {hi!r}"))
    return out


def filter_state_to_predicate(
    state: FilterState,
    render_key: Callable[[str], str] = lambda k: k,
) -> Optional[str]:
    """Single AND-joined predicate with keys remapped through ``render_key``
    (filters.ts:103-131); ``None`` when nothing is selected, so callers can
    branch on constrained-vs-unconstrained without string inspection."""
    rendered = {render_key(k): sel for k, sel in state.items()}
    conditions = [f.condition for f in filters_to_query(rendered)]
    if not conditions:
        return None
    return " AND ".join(f"({c})" for c in conditions)


def serialize_filter_state(state: FilterState) -> str:
    """Stable string form of a FilterState for cache keys
    (filters.ts:143-157 ``serializeFilterState``): plain JSON of the sets
    would flatten them to ``{}`` and collide; this sorts keys and members
    so equal selections — regardless of insertion order — serialize
    identically, and include/exclude/range differences don't."""
    import json

    def members(values: set) -> list[str]:
        # type-tagged so the boolean True and the string 'true' (different
        # predicates: IN (TRUE) vs IN ('true')) never share a cache key —
        # the reference's String() mapping collides them
        return sorted(
            ("b:true" if v else "b:false") if isinstance(v, bool) else f"s:{v}"
            for v in values
        )

    return json.dumps(
        [
            [k, members(sel.included), members(sel.excluded),
             list(sel.range) if sel.range is not None else None]
            for k, sel in sorted(state.items())
        ]
    )


# --- pinned-filter inversion (filters.ts:181-565): SQL conditions in the
# --- exact form filters_to_query emits parse back into facet state for the
# --- search sidebar; everything else is left alone (lenient extraction).


def _is_quote_boundary(s: str, i: int) -> bool:
    """True when the quote at *i* is a real string delimiter: an odd number
    of preceding backslashes means it's escaped (filters.ts:181-192)."""
    if s[i] != "'":
        return False
    backslashes = 0
    j = i - 1
    while j >= 0 and s[j] == "\\":
        backslashes += 1
        j -= 1
    return backslashes % 2 == 0


def _quote_escape_skip(s: str, i: int) -> bool:
    """Inside a string, a doubled quote ('') is an escape, not a boundary."""
    return i + 1 < len(s) and s[i + 1] == "'"


def _scan_outside_quotes(text: str):
    """Yield (index, char) for positions outside single-quoted strings."""
    in_string = False
    i = 0
    while i < len(text):
        if _is_quote_boundary(text, i):
            if in_string and _quote_escape_skip(text, i):
                i += 2
                continue
            in_string = not in_string
            i += 1
            continue
        if not in_string:
            yield i, text[i]
        i += 1


def _contains_outside_quotes(text: str, targets: list[str]) -> bool:
    up = text.upper()
    for i, _ in _scan_outside_quotes(text):
        for t in targets:
            if len(t) == 1:
                if text[i] == t:
                    return True
            elif up[i : i + len(t)] == t:
                return True
    return False


def _split_first_outside_quotes(text: str, delim: str) -> Optional[tuple]:
    up = text.upper()
    d = delim.upper()
    for i, _ in _scan_outside_quotes(text):
        if up[i : i + len(d)] == d:
            return text[:i], text[i + len(d):]
    return None


def _split_on_and_outside_quotes(text: str) -> list[str]:
    parts: list[str] = []
    prev = 0
    up = text.upper()
    skip_to = 0
    for i, _ in _scan_outside_quotes(text):
        if i < skip_to:
            continue
        if up[i : i + 5] == " AND ":
            if text[prev:i].strip():
                parts.append(text[prev:i].strip())
            prev = i + 5
            skip_to = i + 5
    if text[prev:].strip():
        parts.append(text[prev:].strip())
    return parts


def count_top_level_and(condition: str) -> int:
    """Top-level ``AND`` separators outside quoted strings — detects
    conjuncts the pinned-filter parser silently drops (filters.ts:471-494)."""
    n = 0
    up = condition.upper()
    skip_to = 0
    for i, _ in _scan_outside_quotes(condition):
        if i < skip_to:
            continue
        if up[i : i + 5] == " AND ":
            n += 1
            skip_to = i + 5
    return n


def _unquote_value(value: str) -> Value:
    """Reverse ``_fmt_value``: booleans back to bool; quoted literals get
    ``_sql_str``'s escapes undone (``\\\\`` -> ``\\`` first so the
    following quote-unescape can't mistake content for an escape —
    filters.ts:159-174 adapted to our backslash escaping)."""
    t = value.strip()
    if t.lower() in ("true", "false"):
        return t.lower() == "true"
    if t.startswith("'") and t.endswith("'") and len(t) >= 2:
        inner = t[1:-1]
        out = []
        i = 0
        while i < len(inner):
            if inner[i] == "\\" and i + 1 < len(inner) and inner[i + 1] in ("\\", "'"):
                out.append(inner[i + 1])
                i += 2
            elif inner[i] == "'" and i + 1 < len(inner) and inner[i + 1] == "'":
                out.append("'")
                i += 2
            else:
                out.append(inner[i])
                i += 1
        return "".join(out)
    return t


def _split_values_on_comma(values_str: str) -> list[Value]:
    values: list[Value] = []
    cur: list[str] = []
    in_string = False
    i = 0
    while i < len(values_str):
        ch = values_str[i]
        if _is_quote_boundary(values_str, i):
            if in_string and _quote_escape_skip(values_str, i):
                cur.append("''")
                i += 2
                continue
            in_string = not in_string
            cur.append(ch)
            i += 1
            continue
        if not in_string and ch == ",":
            if "".join(cur).strip():
                values.append(_unquote_value("".join(cur)))
            cur = []
            i += 1
            continue
        cur.append(ch)
        i += 1
    if "".join(cur).strip():
        values.append(_unquote_value("".join(cur)))
    return values


# The date-value wrappers _fmt_value emits (to_timestamp / to_date), unwrapped
# back to the plain quoted literal before comma-splitting (the reference
# unwraps its parseDateTime*BestEffort/toDate* producers — filters.ts:395-410)
_DATE_WRAP_RE = None


def _unwrap_date_values(s: str) -> str:
    global _DATE_WRAP_RE
    import re

    if _DATE_WRAP_RE is None:
        _DATE_WRAP_RE = re.compile(
            r"(?:to_timestamp|to_date)\(('(?:[^'\\]|\\.)*')\)"
        )
    return _DATE_WRAP_RE.sub(r"\1", s)


def _extract_in_clauses(condition: str) -> list[tuple[str, list[Value], bool]]:
    """(key, values, is_exclude) for every simple IN / NOT IN clause in the
    condition; parts containing OR or comparison operators (outside quotes)
    are skipped — lenient extraction (filters.ts:320-421)."""
    results = []
    for part in _split_on_and_outside_quotes(condition):
        if _contains_outside_quotes(part, ["=", "<", ">", " OR "]):
            continue
        is_exclude = _contains_outside_quotes(part, [" NOT IN "])
        if not (is_exclude or _contains_outside_quotes(part, [" IN "])):
            continue
        split = _split_first_outside_quotes(
            part, " NOT IN " if is_exclude else " IN "
        )
        if split is None:
            continue
        key, values = split
        trimmed = values.strip()
        if trimmed.startswith("(") and trimmed.endswith(")"):
            trimmed = trimmed[1:-1]
        results.append(
            (key.strip(), _split_values_on_comma(_unwrap_date_values(trimmed)),
             is_exclude)
        )
    return results


def parse_query(filters) -> dict[str, FilterSelection]:
    """Invert ``filters_to_query``: a list of :class:`SqlFilter` conditions
    back into FilterState for the sidebar facets (filters.ts:423-491).
    Non-sql filters are ignored; BETWEEN bounds must be ENTIRELY numeric
    (quoted/date operands or compound-clause residue contribute nothing
    rather than emitting a NaN range); simple IN / NOT IN clauses are
    extracted even from compound AND conditions — EXCEPT when the compound
    contains a BETWEEN, which short-circuits the whole condition exactly as
    the reference's regex does (parseQuery, filters.ts:440-470; such
    conditions are rejected by :func:`is_renderable_pinned_filter`, so the
    divergent facet never renders)."""
    import math
    import re

    state: dict[str, FilterSelection] = {}
    for flt in filters:
        if getattr(flt, "type", None) != "sql":
            continue
        condition = flt.condition
        if _contains_outside_quotes(condition, [" BETWEEN "]):
            m = re.match(
                r"^(.+?)\s+BETWEEN\s+(.+?)\s+AND\s+(.+?)$",
                condition,
                re.IGNORECASE | re.DOTALL,
            )
            if m:
                key = m.group(1).strip()
                try:
                    lo, hi = float(m.group(2)), float(m.group(3))
                except ValueError:
                    continue
                if math.isfinite(lo) and math.isfinite(hi):
                    sel = state.setdefault(key, FilterSelection())
                    sel.range = (lo, hi)
                continue
        for key, values, is_exclude in _extract_in_clauses(condition):
            sel = state.setdefault(key, FilterSelection())
            (sel.excluded if is_exclude else sel.included).update(values)
    return state


def is_renderable_pinned_filter(flt) -> bool:
    """Whether a filter renders FULLY as a single sidebar facet
    (filters.ts:539-565): exactly one column, exactly one clause, no
    conjuncts the lenient parser dropped (a single IN has no top-level AND;
    a BETWEEN has exactly the one its ``min AND max`` carries), and no
    boolean keyword folded into the key (``col NOT BETWEEN``'s inverse
    would execute while the facet displays the non-inverted form)."""
    import re

    if getattr(flt, "type", None) == "sql_ast":
        return False
    state = parse_query([flt])
    if len(state) != 1:
        return False
    key = next(iter(state))
    if re.search(r"\b(?:NOT|AND|OR)\b", key, re.IGNORECASE):
        return False
    if len(filters_to_query(state)) != 1:
        return False
    expected_ands = 1 if state[key].range is not None else 0
    return count_top_level_and(flt.condition) == expected_ands


# --- saved-filter / saved-query static validation (filters.ts:567-727):
# --- lucene via our parser, sql via a parse-only DuckDB round (structural
# --- check; ClickHouse map/array accesses swapped for literals first).

_MAP_OR_ARRAY_ACCESS_RE = None
_VALIDATION_CON = None


def _is_parseable_lucene(condition: str) -> bool:
    from hyperdx_spark.lucene.parser import parse

    try:
        parse(condition)
        return True
    except Exception:
        return False


def _is_parseable_sql(condition: str) -> bool:
    global _MAP_OR_ARRAY_ACCESS_RE
    import re

    import duckdb

    if _MAP_OR_ARRAY_ACCESS_RE is None:
        _MAP_OR_ARRAY_ACCESS_RE = re.compile(
            r"\b[a-zA-Z0-9_]+\[([0-9]+|'[^']*')\]"
        )
    # the engine's literals use backslash escaping (Spark/CH style, same as
    # the reference's SqlString.escape); DuckDB's parser only takes doubled
    # quotes — normalize so engine-produced conditions validate (the
    # reference's node-sql-parser accepts \' natively). Escaped backslashes
    # are consumed FIRST so a literal ending in \\ (a Windows path) doesn't
    # have its second backslash misread as escaping the closing quote —
    # validation is parse-only, so dropping the pair's content is safe.
    normalized = condition.replace("\\\\", "").replace("\\'", "''")
    sanitized = _MAP_OR_ARRAY_ACCESS_RE.sub("''", normalized)
    stmt = f"SELECT 1 FROM t WHERE {sanitized}"
    try:
        # json_serialize_sql requires a CONSTANT varchar (no param binding):
        # inline with doubled quotes. Parse-only — nothing executes. One
        # module-cached connection serves every validation call.
        global _VALIDATION_CON
        if _VALIDATION_CON is None:
            _VALIDATION_CON = duckdb.connect()
        lit = stmt.replace("'", "''")
        row = _VALIDATION_CON.execute(
            f"SELECT json_serialize_sql('{lit}')"
        ).fetchone()
        import json

        return not json.loads(row[0]).get("error", True)
    except Exception:
        return False


def is_valid_filter_condition(condition: str, language: str) -> bool:
    """Whether *condition* parses as *language*. Empty / whitespace-only
    conditions are valid no-ops; promql is not statically validated."""
    if not condition or not condition.strip():
        return True
    if language == "lucene":
        return _is_parseable_lucene(condition)
    if language == "sql":
        return _is_parseable_sql(condition)
    return True


def validate_saved_filter_values(
    values, language: str = "lucene"
) -> list[dict]:
    """Issues ({index, language, condition}) for every saved-filter value
    that fails to parse (filters.ts:632-666); valid input -> []."""
    issues = []
    for i, condition in enumerate(values):
        if not is_valid_filter_condition(condition, language):
            issues.append(
                {"index": i, "language": language, "condition": condition}
            )
    return issues


def validate_saved_query(query: Optional[str], language: Optional[str] = None):
    """None for a valid (or empty) saved search query, else an issue dict;
    a missing language defaults to lucene (filters.ts:668-701)."""
    if not query or not query.strip():
        return None
    lang = language or "lucene"
    if is_valid_filter_condition(query, lang):
        return None
    return {"language": lang, "condition": query}


def validate_dashboard_filter_queries(filters) -> list[dict]:
    """Issues for dashboard filters whose where clause fails to parse
    (filters.ts:703-727); filters with no / blank where are valid."""
    issues = []
    for i, flt in enumerate(filters):
        where = getattr(flt, "where", None) or (
            flt.get("where") if isinstance(flt, dict) else None
        )
        lang = getattr(flt, "where_language", None) or (
            flt.get("whereLanguage") if isinstance(flt, dict) else None
        ) or "lucene"
        if where and not is_valid_filter_condition(where, lang):
            issues.append({"index": i, "language": lang, "condition": where})
    return issues


def dashboard_filter_constraints(filters, filter_values):
    """app hooks/useDashboardFilterValues.tsx:65-92 — the cross-filter
    (faceting) constraint each dashboard filter's VALUE LIST loads under:
    the ACTIVE selections of its sibling filters on the same
    (source, sourceMetricType), EXCLUDING the filter's own expression (a
    facet's own selection must not narrow its own options). A selection
    is active when it includes/excludes values or carries a range.
    ``filters``: dicts with id/source/source_metric_type/expression;
    ``filter_values``: {expression: FilterSelection}. Returns
    {filter_id: pruned {expression: FilterSelection} or None}."""
    out = {}
    for f in filters:
        pruned = {}
        for sibling in filters:
            if (
                sibling.get("source") != f.get("source")
                or sibling.get("source_metric_type")
                != f.get("source_metric_type")
                or sibling.get("expression") == f.get("expression")
            ):
                continue
            sel = filter_values.get(sibling["expression"])
            if sel is not None and (
                len(sel.included) > 0
                or len(sel.excluded) > 0
                or sel.range is not None
            ):
                pruned[sibling["expression"]] = sel
        out[f["id"]] = pruned or None
    return out


def group_filters_for_key_values(filters):
    """useDashboardFilterValues.tsx:95-110 + filterToKey: dashboard
    filters sharing (source, sourceMetricType, where, whereLanguage) load
    their value lists in ONE batched key-values call — returns the groups
    in first-seen order (each a list of filter dicts)."""
    groups: dict[tuple, list] = {}
    for f in filters:
        key = (
            f.get("source"),
            f.get("source_metric_type"),
            f.get("where") or "",
            f.get("where_language") or "sql",
        )
        groups.setdefault(key, []).append(f)
    return list(groups.values())
