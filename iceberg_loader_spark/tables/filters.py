"""Row-filter predicates: parse, translate to Spark, prune files.

The reference accepts PyIceberg row-filter strings like
``"ts == '2023-01-01'"`` for its idempotent-replace strategy
(``/root/reference src/iceberg_loader/core/strategies.py:64``,
``tests/test_iceberg_loader.py:119-122``). We accept the same surface:
conjunctions of ``col OP literal`` with OP ∈ {==, !=, <, <=, >, >=, IN}.

Three consumers:

* :func:`to_spark_sql` — rewrite to Spark SQL for the row-level filter.
* :func:`to_arrow_expr` — the same filter as a pyarrow expression, for
  the driver's reads, when Arrow evaluates it exactly as Spark does.
* :func:`file_may_match` — conservative metadata-only test of one
  manifest entry (partition values + column min/max), used to pick the
  files a DELETE must rewrite. Returning True when unsure is always safe;
  returning False must be provably correct.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc

from iceberg_loader_spark.tables.format import DataFile
from iceberg_loader_spark.tables.partitioning import (
    PartitionField,
    python_eval,
)

_TERM_RE = re.compile(
    r"""^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(==|!=|<=|>=|<|>|(?i:IN))\s*(.+?)\s*$"""
)


@dataclass(frozen=True)
class Term:
    col: str
    op: str  # ==, !=, <, <=, >, >=, in
    value: object  # scalar or tuple for IN


def _parse_literal(s: str):
    s = s.strip()
    if s.startswith("(") and s.endswith(")"):
        return tuple(_parse_literal(p) for p in s[1:-1].split(","))
    if (s.startswith("'") and s.endswith("'")) or (s.startswith('"') and s.endswith('"')):
        return s[1:-1]
    low = s.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        pass
    # unquoted bare value: must be a single token (no whitespace/operators),
    # otherwise we'd silently swallow things like "1 OR b == 2"
    if not re.fullmatch(r"[A-Za-z0-9_.:\-]+", s):
        raise ValueError(f"unsupported literal: {s!r}")
    return s


def split_terms(expr: str) -> list[tuple[str, str, str]]:
    """(column, op, literal text) per conjunct; ValueError otherwise."""
    out = []
    for part in re.split(r"(?i)\s+and\s+", expr.strip()):
        m = _TERM_RE.match(part)
        if m is None:
            raise ValueError(f"unsupported filter term: {part!r}")
        op = m.group(2).lower()
        out.append((m.group(1), "in" if op == "in" else op, m.group(3)))
    return out


def parse_filter(expr: str) -> list[Term]:
    """Parse a conjunction of simple terms; raises ValueError otherwise."""
    return [Term(c, op, _parse_literal(lit)) for c, op, lit in split_terms(expr)]


def to_spark_sql(expr: str) -> str:
    """PyIceberg-style filter → Spark SQL (just `==` → `=`)."""
    return re.sub(r"(?<![=!<>])==", "=", expr)


_INT_RE = re.compile(r"[+-]?[0-9]+")
_FLOAT_RE = re.compile(
    r"[+-]?(?:[0-9]+\.[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?|[+-]?[0-9]+[eE][+-]?[0-9]+"
)
_INT64 = (-(2**63), 2**63 - 1)


def _arrow_literal(text: str, t: pa.DataType):
    """The value Spark compares a column of type ``t`` with for the
    literal ``text``, when Arrow's comparison of the two is Spark's, else
    None. Kept: a quoted string (no backslash escape, inner quote or
    ``==``, which ``to_spark_sql`` would rewrite) against a string
    column, true/false against a boolean, an int64 integer against an
    integer column or (as the double Spark casts it to) a double one, a
    finite decimal or exponent number against a floating column.
    Anything else (a bare token such as ``null`` or a column name, a
    date or timestamp column, a cross-type pair) Spark coerces or
    resolves in ways Arrow does not follow."""
    text = text.strip()
    if len(text) >= 2 and text[0] == text[-1] and text[0] in "'\"":
        inner = text[1:-1]
        ok = "\\" not in inner and text[0] not in inner and "==" not in inner
        return inner if ok and pa.types.is_string(t) else None
    if text.lower() in ("true", "false"):
        return text.lower() == "true" if pa.types.is_boolean(t) else None
    if _INT_RE.fullmatch(text):
        v = int(text)
        if not _INT64[0] <= v <= _INT64[1]:
            return None
        if pa.types.is_float64(t):
            # Spark casts the BIGINT to DOUBLE, rounding to nearest as
            # Python's float() does; Arrow's own cast rejects |v| > 2^53
            return float(v)
        return v if pa.types.is_integer(t) else None
    if _FLOAT_RE.fullmatch(text) and pa.types.is_floating(t):
        v = float(text)
        return v if abs(v) != float("inf") else None
    return None


def pushable_float_term(op: str, text: str) -> bool:
    """Whether the parquet reader may skip row groups by Spark's term
    ``col op text`` (``split_terms``'s triple) on a floating ``col``.
    It trusts the footer bounds pyarrow writes, which leave NaN out, and
    orders -0.0 below 0.0, which Spark holds equal (a dictionary of
    -0.0 has no 0.0). So only ``<``, ``<=``, ``==`` and ``IN`` against
    nonzero numbers: NaN, which Spark orders above every number, meets
    none of them, and the sign of a zero decides none of them. A quoted
    literal may cast to NaN or zero."""
    if op == "in":
        if not (text.startswith("(") and text.endswith(")")):
            return False
        values = [p.strip() for p in text[1:-1].split(",")]
    else:
        values = [text]
    return op in ("<", "<=", "==", "in") and all(
        (_INT_RE.fullmatch(v) or _FLOAT_RE.fullmatch(v)) and float(v) != 0 for v in values
    )


def to_arrow_expr(expr: str, schema: pa.Schema) -> pc.Expression | None:
    """``expr`` over rows of ``schema`` as a pyarrow expression that is
    true, false or null exactly where Spark's ``to_spark_sql(expr)`` is,
    or None when that cannot be promised: a parse error, a column not in
    ``schema`` (Spark resolves names case-insensitively), or a literal
    ``_arrow_literal`` rejects. An ``IN`` list becomes an OR of
    equalities (Spark's, with -0.0 equal to 0.0), and ``>``/``>=`` on a
    floating column also hold for NaN, which Spark orders above every
    number."""
    try:
        terms = split_terms(expr)
    except ValueError:
        return None
    out = None
    for col, op, text in terms:
        if col not in schema.names or col.lower() in ("null", "true", "false"):
            return None
        t = schema.field(col).type
        if op == "in":
            if not (text.startswith("(") and text.endswith(")")):
                return None
            values = [_arrow_literal(p, t) for p in text[1:-1].split(",")]
        else:
            values = [_arrow_literal(text, t)]
        if any(v is None for v in values):
            return None
        field = pc.field(col)
        if op in ("in", "=="):
            term = None
            for v in values:
                eq = field == pc.scalar(v)
                term = eq if term is None else term | eq
        else:
            term = {
                "!=": field != pc.scalar(values[0]),
                "<": field < pc.scalar(values[0]),
                "<=": field <= pc.scalar(values[0]),
                ">": field > pc.scalar(values[0]),
                ">=": field >= pc.scalar(values[0]),
            }[op]
            if op in (">", ">=") and pa.types.is_floating(t):
                term = term | pc.is_nan(field)
        out = term if out is None else out & term
    return out


_TS_STAT_RE = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6}$")
_DATEISH_RE = re.compile(r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$")


def _normalize_dt_literal(v, bound):
    """Pad date-ish string literals to the timestamp-stat format so
    lexicographic comparison is correct ('2023-01-02' vs
    '2023-01-02 00:00:00.000000')."""
    import datetime as _dt

    if isinstance(bound, str) and isinstance(v, str):
        if _TS_STAT_RE.match(bound) and _DATEISH_RE.match(v) and not _TS_STAT_RE.match(v):
            try:
                return _dt.datetime.fromisoformat(v).strftime("%Y-%m-%d %H:%M:%S.%f")
            except ValueError:
                return v
    return v


def spark_order(v):
    """``v``'s sort key in Spark's order, where a float NaN equals NaN
    and sorts above every number: a NaN bound compares as such."""
    return (1, 0) if isinstance(v, float) and v != v else (0, v)


def _ordered(term: Term, lo, hi):
    """The term's value (a tuple of them for IN) and the bounds as
    ``spark_order`` keys, date-ish literals padded to the bounds' format;
    a None bound stays None."""
    bound = lo if lo is not None else hi
    key = lambda x: spark_order(_normalize_dt_literal(x, bound))  # noqa: E731
    v = term.value
    v = tuple(map(key, v)) if term.op == "in" and isinstance(v, tuple) else key(v)
    return (v, *(None if b is None else spark_order(b) for b in (lo, hi)))


def _term_may_match_range(term: Term, lo, hi) -> bool:
    """May a value in [lo, hi] satisfy the term? (None bound = unknown)"""
    v, lo, hi = _ordered(term, lo, hi)
    try:
        if term.op == "==":
            return (lo is None or lo <= v) and (hi is None or v <= hi)
        if term.op == "<":
            return lo is None or lo < v
        if term.op == "<=":
            return lo is None or lo <= v
        if term.op == ">":
            return hi is None or hi > v
        if term.op == ">=":
            return hi is None or hi >= v
        if term.op == "in" and isinstance(term.value, tuple):
            return any(
                (lo is None or lo <= x) and (hi is None or x <= hi) for x in v
            )
    except TypeError:
        return True  # incomparable types → can't prune
    return True  # != never prunes a range


def file_may_match(
    terms: list[Term], f: DataFile, spec: list[PartitionField]
) -> bool:
    """Conservative: False only when metadata proves no row matches."""
    spec_by_source = {pf.source: pf for pf in spec}
    for term in terms:
        # 1) partition-value check via the transform mirror
        pf = spec_by_source.get(term.col)
        if pf is not None and pf.name in f.partition:
            pv = f.partition[pf.name]
            if pv is not None and term.op in ("==", "in"):
                values = term.value if term.op == "in" else (term.value,)
                try:
                    derived = {str(python_eval(pf, v)) for v in values}
                    if str(pv) not in derived:
                        return False
                except (NotImplementedError, ValueError, TypeError):
                    pass
        # 2) column min/max stats check
        stat = f.stats.get(term.col)
        if stat is not None:
            lo, hi = stat
            if not _term_may_match_range(term, lo, hi):
                return False
    return True


def file_fully_matches(terms: list[Term], f: DataFile) -> bool:
    """True only when metadata PROVES every row matches every term — the
    metadata-only DELETE fast path (file dropped, nothing rewritten).

    Proof used: equality/IN terms where the column's min==max equals the
    literal; range terms where the whole [min,max] lies inside the bound.
    """
    if not terms:
        return False
    for term in terms:
        stat = f.stats.get(term.col)
        if stat is None:
            return False
        v, lo, hi = _ordered(term, *stat)
        if term.op == "in" and isinstance(term.value, tuple):
            if not (lo == hi and lo in v):
                return False
            continue
        try:
            if term.op == "==":
                if not (lo == hi == v):
                    return False
            elif term.op == "<":
                if not hi < v:
                    return False
            elif term.op == "<=":
                if not hi <= v:
                    return False
            elif term.op == ">":
                if not lo > v:
                    return False
            elif term.op == ">=":
                if not lo >= v:
                    return False
            else:  # != or unknown — no whole-file proof attempted
                return False
        except TypeError:
            return False
    return True


def split_delete_candidates(
    expr: str, files: list[DataFile], spec: list[PartitionField]
) -> tuple[list[DataFile], list[DataFile], list[DataFile]]:
    """(fully_matching → drop, partial → rewrite, clean → carry over)."""
    may, clean = prune_files(expr, files, spec)
    try:
        terms = parse_filter(expr)
    except ValueError:
        return [], may, clean
    full = [f for f in may if file_fully_matches(terms, f)]
    full_paths = {f.path for f in full}
    partial = [f for f in may if f.path not in full_paths]
    return full, partial, clean


def prune_files(
    expr: str | None, files: list[DataFile], spec: list[PartitionField]
) -> tuple[list[DataFile], list[DataFile]]:
    """Split files into (may_match, provably_clean) for ``expr``.

    Unparseable expressions prune nothing (correct, just slower).
    """
    if not expr:
        return list(files), []
    try:
        terms = parse_filter(expr)
    except ValueError:
        return list(files), []
    may, clean = [], []
    for f in files:
        (may if file_may_match(terms, f, spec) else clean).append(f)
    return may, clean
