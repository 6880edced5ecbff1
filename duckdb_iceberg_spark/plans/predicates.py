"""Pruning predicates: tiny AST, best-effort SQL parser, bounds truth tables.

Mirrors the reference's conservative predicate evaluation
(reference: src/planning/pruning/iceberg_predicate.cpp:44-321 — MatchBounds
dispatch over =, <, <=, >, >=, IN, IS [NOT] NULL, AND conjunctions;
conservative TRUE on anything not understood) and the transform-aware
comparators (reference: src/include/core/expression/iceberg_transform.hpp:64-342).

The same filter string is also handed verbatim to Spark as the residual
filter (``df.filter(expr(where))``), so a predicate this parser cannot
understand only costs pruning opportunity, never correctness — the exact
contract the reference has with its host engine.
"""

from __future__ import annotations

import datetime as _dt
import re
from dataclasses import dataclass
from decimal import Decimal, InvalidOperation
from typing import Any, Callable, Optional

from . import transforms as tr
from ..metadata import types as ice_types


# --- AST -------------------------------------------------------------------

@dataclass(frozen=True)
class VariantRef:
    """A shredded-variant field reference: ``variant_get(col, path[, type])``
    in the filter. ``path`` is the normalized Iceberg stats path
    ("$['a']['b']" — reference: iceberg_variant_statistics.cpp
    BuildJsonPath); bounds come from the variant column's serialized
    variant-stats blobs rather than typed column bounds (reference pruning
    branches: iceberg_predicate.cpp IsVariantReference /
    MatchTransformedBounds)."""

    column: str
    path: str


@dataclass
class Comparison:
    column: Any  # str | VariantRef
    op: str  # '=', '<', '<=', '>', '>=', '!='
    value: Any


@dataclass
class InList:
    column: str
    values: list


@dataclass
class IsNull:
    column: str


@dataclass
class NotNull:
    column: str


@dataclass
class And:
    children: list


@dataclass
class Or:
    children: list


Predicate = Any  # Comparison | InList | IsNull | NotNull | And | Or | None


# --- parser ----------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lpar>\()|(?P<rpar>\))|(?P<comma>,)|
        (?P<op><=|>=|!=|<>|=|<|>)|
        (?P<str>'(?:[^']|'')*')|
        (?P<num>-?\d+\.\d+|-?\d+)|
        (?P<arith>[+*/%])|
        (?P<word>[A-Za-z_][A-Za-z0-9_.]*)
    )""",
    re.VERBOSE,
)


class _Tokens:
    def __init__(self, s: str) -> None:
        self.toks: list[tuple[str, str]] = []
        pos = 0
        while pos < len(s):
            m = _TOKEN_RE.match(s, pos)
            if not m or m.end() == pos:
                if s[pos:].strip():
                    raise ValueError(f"cannot tokenize {s[pos:]!r}")
                break
            pos = m.end()
            for k, v in m.groupdict().items():
                if v is not None:
                    self.toks.append((k, v))
                    break
        self.i = 0

    def peek(self, kind: str | None = None, value: str | None = None) -> Optional[tuple[str, str]]:
        if self.i >= len(self.toks):
            return None
        k, v = self.toks[self.i]
        if kind and k != kind:
            return None
        if value and v.upper() != value.upper():
            return None
        return (k, v)

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept_word(self, w: str) -> bool:
        if self.peek("word", w):
            self.i += 1
            return True
        return False


def _fold_cast(v: Any, tname: str, args: list[int]) -> Any:
    """Constant-fold CAST(<literal> AS <type>) — exact value semantics
    (DECIMAL via the string form, never a float round-trip)."""
    if v is None:
        return None
    if tname in ("DECIMAL", "NUMERIC", "DEC"):
        from decimal import ROUND_HALF_UP

        d = Decimal(str(v))
        # scale defaults to 0 when omitted — DECIMAL and DECIMAL(p) both
        # mean scale 0 in Spark/DuckDB, so the residual filter Spark
        # evaluates compares the ROUNDED value; folding the unrounded
        # literal would prune files the residual keeps
        scale = args[1] if len(args) >= 2 else 0
        return d.quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP)
    if tname in ("TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT",
                 "HUGEINT", "LONG"):
        # SQL casts of fractional strings/values truncate toward zero
        return int(Decimal(str(v)).to_integral_value(rounding="ROUND_DOWN"))
    if tname in ("FLOAT", "REAL"):
        # narrow through float32 like the engine's cast does — keeping
        # the double value would mis-prune equality predicates at
        # representation boundaries (0.1f != 0.1d)
        import struct

        return struct.unpack("f", struct.pack("f", float(v)))[0]
    if tname == "DOUBLE":
        return float(v)
    if tname in ("VARCHAR", "STRING", "TEXT", "CHAR"):
        return str(v)
    if tname == "DATE" and isinstance(v, str):
        return _dt.date.fromisoformat(v)
    if tname in ("TIMESTAMP", "TIMESTAMPTZ") and isinstance(v, str):
        return _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
    if tname == "TIME" and isinstance(v, str):
        return _dt.time.fromisoformat(v)
    if tname == "BOOLEAN":
        if isinstance(v, bool):
            return v
        if isinstance(v, str) and v.strip().lower() in ("true", "false"):
            return v.strip().lower() == "true"
    raise ValueError(f"unsupported CAST target {tname!r}")


def _parse_literal(tk: _Tokens) -> Any:
    t = tk.peek()
    if t is None:
        raise ValueError("eof in literal")
    kind, val = t
    if kind == "str":
        tk.next()
        return val[1:-1].replace("''", "'")
    if kind == "num":
        tk.next()
        if "." in val:
            return float(val)
        return int(val)
    if kind == "word":
        up = val.upper()
        if up == "CAST":
            # CAST(<literal> AS <type>[(p[,s])]) folds to a typed Python
            # value so typed literals still prune (the reference's host
            # engine folds constant casts before the pruner sees them;
            # e.g. identity_decimal_hugeint.test compares DECIMAL(38,23)
            # partition values). Unknown target types raise → parse_where
            # stays conservative (no pruning, correct results).
            tk.next()
            if not tk.peek("lpar"):
                raise ValueError("expected ( after CAST")
            tk.next()
            inner = _parse_literal(tk)
            a = tk.next()
            if a[0] != "word" or a[1].upper() != "AS":
                raise ValueError("expected AS in CAST")
            tname = tk.next()
            if tname[0] != "word":
                raise ValueError("expected type name in CAST")
            args: list[int] = []
            if tk.peek("lpar"):
                tk.next()
                while True:
                    n = tk.next()
                    if n[0] != "num":
                        raise ValueError("expected numeric type parameter")
                    args.append(int(n[1]))
                    if tk.peek("comma"):
                        tk.next()
                        continue
                    break
                if not tk.peek("rpar"):
                    raise ValueError("expected ) after type parameters")
                tk.next()
            if not tk.peek("rpar"):
                raise ValueError("expected ) closing CAST")
            tk.next()
            return _fold_cast(inner, tname[1].upper(), args)
        if up in ("DATE", "TIME", "TIMESTAMP", "TIMESTAMPTZ"):
            tk.next()
            s = tk.next()
            if s[0] != "str":
                raise ValueError("expected string after DATE/TIME/TIMESTAMP")
            raw = s[1][1:-1]
            if up == "DATE":
                return _dt.date.fromisoformat(raw)
            if up == "TIME":
                return _dt.time.fromisoformat(raw)
            d = _dt.datetime.fromisoformat(raw.replace("Z", "+00:00"))
            return d
        if up == "X" and tk.i + 1 < len(tk.toks) \
                and tk.toks[tk.i + 1][0] == "str":
            # X'<hex>': a binary literal
            tk.next()
            return bytes.fromhex(tk.next()[1][1:-1])
        if up == "TRUE":
            tk.next()
            return True
        if up == "FALSE":
            tk.next()
            return False
        if up == "NULL":
            tk.next()
            return None
    raise ValueError(f"bad literal {t!r}")


def _parse_literal_expr(tk: _Tokens) -> Any:
    r"""Literal with constant folding: arithmetic over NUMERIC literals
    (`1 + 1`, `2 * (3 + 4)`) folds to its value so foldable filters still
    prune files (reference: partitioning/foldable_expression_filter.test —
    DuckDB folds before the pruner sees the filter). Non-numeric operands
    or unknown operators raise, which parse_where turns into
    no-pruning-conservative. `/` folds to float (SQL division), `%` only
    between ints. The tokenizer keeps `-?\d+` as one token, so subtraction
    needs no `-` operator here — `1 - 2` lexes as 1 and -2 and is rejected
    (conservative), while every foldable shape DuckDB's own test exercises
    (`+`, `*`, parens) folds exactly."""
    def primary():
        if tk.peek("lpar"):
            tk.next()
            v = expr()
            if not tk.peek("rpar"):
                raise ValueError("expected ) in literal expression")
            tk.next()
            return v
        return _parse_literal(tk)

    def _num(v):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise ValueError(f"non-numeric operand in literal arithmetic: {v!r}")
        return v

    def term():
        v = primary()
        while tk.peek("arith") and tk.peek()[1] in ("*", "/", "%"):
            op = tk.next()[1]
            rhs = primary()
            a, b = _num(v), _num(rhs)
            if b == 0 and op in ("/", "%"):
                raise ValueError("zero divisor in literal arithmetic")
            if op == "*":
                v = a * b
            elif op == "/":
                v = a / b
            else:
                if not (isinstance(a, int) and isinstance(b, int)):
                    raise ValueError("% needs integer operands")
                # SQL modulo is TRUNCATED (sign of the dividend: Spark and
                # DuckDB give -7 % 3 = -1), not Python's floored -7 % 3 = 2
                r = abs(a) % abs(b)
                v = r if a >= 0 else -r
        return v

    def expr():
        v = term()
        while tk.peek("arith") and tk.peek()[1] == "+":
            tk.next()
            v = _num(v) + _num(term())
        return v

    return expr()


def _norm_variant_path(path: str) -> str:
    """'$.a.b' or "$['a']['b']" -> "$['a']['b']". Array indexing is not a
    stats path (bounds cover whole arrays) — reject to stay conservative."""
    if not path.startswith("$"):
        raise ValueError(f"variant path must start with $: {path!r}")
    rest = path[1:]
    segs: list[str] = []
    while rest:
        m = re.match(r"\.([A-Za-z_][A-Za-z0-9_]*)", rest) or \
            re.match(r"\['((?:[^'\\]|\\.)*)'\]", rest) or \
            re.match(r'\["((?:[^"\\]|\\.)*)"\]', rest)
        if not m:
            raise ValueError(f"unsupported variant path segment: {rest!r}")
        segs.append(m.group(1))
        rest = rest[m.end():]
    return "$" + "".join(f"['{s}']" for s in segs)


def _parse_variant_ref(tk: _Tokens, fn: str) -> VariantRef:
    """variant_get(col, 'path'[, 'type']) — the type argument steers Spark's
    result type; pruning compares in the stats' native space, so it is
    parsed and ignored here."""
    if not tk.peek("lpar"):
        raise ValueError(f"expected ( after {fn}")
    tk.next()
    c = tk.peek("word")
    if not c:
        raise ValueError("expected column in variant_get")
    column = tk.next()[1]
    if not tk.peek("comma"):
        raise ValueError("expected , in variant_get")
    tk.next()
    p = tk.peek("str")
    if not p:
        raise ValueError("expected path string in variant_get")
    path = tk.next()[1][1:-1].replace("''", "'")
    if tk.peek("comma"):
        tk.next()
        if not tk.peek("str"):
            raise ValueError("expected type string in variant_get")
        tk.next()
    if not tk.peek("rpar"):
        raise ValueError("expected ) in variant_get")
    tk.next()
    return VariantRef(column, _norm_variant_path(path))


def _parse_primary(tk: _Tokens) -> Predicate:
    if tk.peek("lpar"):
        tk.next()
        p = _parse_or(tk)
        if not tk.peek("rpar"):
            raise ValueError("expected )")
        tk.next()
        return p
    t = tk.peek("word")
    if not t:
        raise ValueError(f"expected column, got {tk.peek()!r}")
    col: Any = tk.next()[1]
    if col.lower() in ("variant_get", "try_variant_get"):
        col = _parse_variant_ref(tk, col)
    if tk.accept_word("IS"):
        neg = tk.accept_word("NOT")
        if not tk.accept_word("NULL"):
            raise ValueError("expected NULL")
        return NotNull(col) if neg else IsNull(col)
    if tk.accept_word("NOT"):
        if tk.accept_word("IN"):
            raise ValueError("NOT IN unsupported")  # conservative: parser fails → no pruning
        raise ValueError("NOT unsupported")
    if tk.accept_word("IN"):
        if not tk.peek("lpar"):
            raise ValueError("expected ( after IN")
        tk.next()
        vals = [_parse_literal_expr(tk)]
        while tk.peek("comma"):
            tk.next()
            vals.append(_parse_literal_expr(tk))
        if not tk.peek("rpar"):
            raise ValueError("expected )")
        tk.next()
        return InList(col, vals)
    if tk.accept_word("BETWEEN"):
        lo = _parse_literal_expr(tk)
        if not tk.accept_word("AND"):
            raise ValueError("expected AND in BETWEEN")
        hi = _parse_literal_expr(tk)
        return And([Comparison(col, ">=", lo), Comparison(col, "<=", hi)])
    t = tk.peek("op")
    if not t:
        raise ValueError(f"expected operator after {col}")
    op = tk.next()[1]
    if op == "<>":
        op = "!="
    val = _parse_literal_expr(tk)
    return Comparison(col, op, val)


def _parse_and(tk: _Tokens) -> Predicate:
    children = [_parse_primary(tk)]
    while tk.accept_word("AND"):
        children.append(_parse_primary(tk))
    return children[0] if len(children) == 1 else And(children)


def _parse_or(tk: _Tokens) -> Predicate:
    children = [_parse_and(tk)]
    while tk.accept_word("OR"):
        children.append(_parse_and(tk))
    return children[0] if len(children) == 1 else Or(children)


def parse_where(where: str | None) -> Predicate:
    """Best-effort parse; returns None (no pruning) when not understood."""
    if not where:
        return None
    try:
        tk = _Tokens(where)
        p = _parse_or(tk)
        if tk.i != len(tk.toks):
            return None
        return p
    except (ValueError, IndexError, ArithmeticError):
        return None


# --- literal coercion ------------------------------------------------------

def coerce_literal(value: Any, src_type: Any) -> Any:
    """Coerce a parsed literal to the column's Iceberg type domain."""
    if value is None or not isinstance(src_type, str):
        return value
    name = ice_types.primitive_name(src_type)
    try:
        if name in ("int", "long") and not isinstance(value, bool):
            return int(value)
        if name in ("float", "double"):
            return float(value)
        if name == "decimal":
            return Decimal(str(value))
        if name == "date":
            if isinstance(value, str):
                return _dt.date.fromisoformat(value)
            if isinstance(value, _dt.datetime):
                return value.date()
            return value
        if name == "time":
            if isinstance(value, str):
                value = _dt.time.fromisoformat(value)
            if ice_types.time_type_available():
                if isinstance(value, int):
                    return ice_types.micros_to_time(value)
                return value
            return ice_types.time_to_micros(value)
        if name in ("timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
            if isinstance(value, str):
                return _dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
            return value
        if name == "string":
            return str(value)
    except (ValueError, ArithmeticError):
        return value
    return value


# --- bounds evaluation -----------------------------------------------------

class ColumnStats:
    """What pruning knows about one column in one file/manifest."""

    __slots__ = ("lower", "upper", "contains_null", "contains_nan", "all_null")

    def __init__(self, lower=None, upper=None, contains_null=True, contains_nan=None, all_null=False):
        self.lower = lower
        self.upper = upper
        self.contains_null = contains_null
        self.contains_nan = contains_nan
        self.all_null = all_null


def _cmp(a: Any, b: Any) -> Optional[int]:
    try:
        if a is None or b is None:
            return None
        if isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime):
            if (a.tzinfo is None) != (b.tzinfo is None):
                a = a.replace(tzinfo=_dt.timezone.utc) if a.tzinfo is None else a
                b = b.replace(tzinfo=_dt.timezone.utc) if b.tzinfo is None else b
        if isinstance(a, (int, float, Decimal)) and isinstance(b, (int, float, Decimal)):
            # compared natively, which Python does exactly across int,
            # float and Decimal: a float() round trip makes distinct
            # values past 2**53 (64-bit ids, epoch nanos, decimal(38, s))
            # equal and pruned files holding matching rows. A NaN on
            # either side stays "equal" (unordered, never pruned on).
            try:
                return -1 if a < b else (1 if a > b else 0)
            except InvalidOperation:  # a Decimal NaN refuses to order
                return 0
        if type(a) is not type(b) and not (
            isinstance(a, str) and isinstance(b, str)
        ):
            if isinstance(a, _dt.date) and isinstance(b, _dt.date):
                pass
            else:
                return None
        return -1 if a < b else (1 if a > b else 0)
    except TypeError:
        return None


def match_bounds(pred: Predicate, stats_for: Callable[[str], Optional[ColumnStats]]) -> bool:
    """Can rows in a file/manifest with these stats match the predicate?
    Conservative: unknown → True (Spark re-applies the residual filter)."""
    if pred is None:
        return True
    if isinstance(pred, And):
        return all(match_bounds(c, stats_for) for c in pred.children)
    if isinstance(pred, Or):
        return any(match_bounds(c, stats_for) for c in pred.children)
    st = stats_for(_pred_col(pred))
    if st is None:
        return True
    if isinstance(pred, IsNull):
        return st.contains_null
    if isinstance(pred, NotNull):
        return not st.all_null
    if isinstance(pred, InList):
        if st.all_null:
            return False
        return any(_value_in_range(v, st) for v in pred.values)
    if isinstance(pred, Comparison):
        if st.all_null:
            return False
        v = pred.value
        if v is None:
            return False  # `col = NULL` matches nothing
        if pred.op == "=":
            return _value_in_range(v, st)
        if pred.op == "!=":
            return True  # bounds can't disprove != (unless lower==upper==v; keep simple+safe)
        if pred.op == "<":
            c = _cmp(st.lower, v)
            return c is None or c < 0
        if pred.op == "<=":
            c = _cmp(st.lower, v)
            return c is None or c <= 0
        if pred.op == ">":
            c = _cmp(st.upper, v)
            return c is None or c > 0
        if pred.op == ">=":
            c = _cmp(st.upper, v)
            return c is None or c >= 0
    return True


def definitely_matches(pred: Predicate, stats_for: Callable[[str], Optional[ColumnStats]]) -> bool:
    """Do ALL rows in a file provably match the predicate? Used by
    copy-on-write DELETE to drop whole files without rewriting them
    (the metadata-only delete the reference gets from its planner).
    Conservative: unknown → False."""
    if pred is None:
        return False
    if isinstance(pred, And):
        return all(definitely_matches(c, stats_for) for c in pred.children)
    if isinstance(pred, Or):
        return any(definitely_matches(c, stats_for) for c in pred.children)
    st = stats_for(_pred_col(pred))
    if st is None:
        return False
    if isinstance(pred, IsNull):
        return st.all_null
    if isinstance(pred, NotNull):
        return not st.contains_null
    if st.contains_null:
        return False  # NULL rows never match a comparison
    if isinstance(pred, InList):
        return (
            st.lower is not None
            and _cmp(st.lower, st.upper) == 0
            and any(_cmp(st.lower, v) == 0 for v in pred.values)
        )
    if isinstance(pred, Comparison):
        v = pred.value
        if v is None or st.lower is None or st.upper is None:
            return False
        if pred.op == "=":
            return _cmp(st.lower, v) == 0 and _cmp(st.upper, v) == 0
        if pred.op == "<":
            c = _cmp(st.upper, v)
            return c is not None and c < 0
        if pred.op == "<=":
            c = _cmp(st.upper, v)
            return c is not None and c <= 0
        if pred.op == ">":
            c = _cmp(st.lower, v)
            return c is not None and c > 0
        if pred.op == ">=":
            c = _cmp(st.lower, v)
            return c is not None and c >= 0
        if pred.op == "!=":
            below = _cmp(st.upper, v)
            above = _cmp(st.lower, v)
            return (below is not None and below < 0) or (above is not None and above > 0)
    return False


def _value_in_range(v: Any, st: ColumnStats) -> bool:
    lo = _cmp(st.lower, v)
    hi = _cmp(st.upper, v)
    if lo is not None and lo > 0:
        return False
    if hi is not None and hi < 0:
        return False
    return True


def _pred_col(pred: Predicate) -> str:
    return pred.column


def transform_predicate(pred: Predicate, column: str, transform: str, src_type: Any) -> Predicate:
    """Rewrite a predicate on `column` into one on transform(column) for
    partition pruning (iceberg_transform.hpp comparators). Order-preserving
    transforms keep inequalities with inclusive bounds; bucket keeps only
    equality-shaped predicates; anything else → None (match all)."""
    if pred is None:
        return None
    if isinstance(pred, And):
        return And([transform_predicate(c, column, transform, src_type) for c in pred.children])
    if isinstance(pred, Or):
        return Or([transform_predicate(c, column, transform, src_type) for c in pred.children])
    if _pred_col(pred) != column:
        return None  # other column ⇒ no constraint here
    kind, _ = tr.parse_transform(transform)
    if isinstance(pred, IsNull):
        return IsNull(column)
    if isinstance(pred, NotNull):
        return NotNull(column) if kind != "void" else None
    if kind == "void":
        return None
    if isinstance(pred, InList):
        vals = [tr.apply_python(transform, coerce_literal(v, src_type), src_type) for v in pred.values]
        return InList(column, [v for v in vals if v is not None])
    if isinstance(pred, Comparison):
        v = coerce_literal(pred.value, src_type)
        if v is None:
            return pred
        if kind == "identity":
            return Comparison(column, pred.op, v)
        tv = tr.apply_python(transform, v, src_type)
        if tv is None:
            return None
        if kind == "bucket":
            if pred.op == "=":
                return Comparison(column, "=", tv)
            return None  # bucket destroys order
        # order-preserving: widen strict ops to inclusive on transformed values
        op = {"<": "<=", ">": ">=", "=": "=", "<=": "<=", ">=": ">=", "!=": "!="}[pred.op]
        if pred.op == "!=":
            return None
        return Comparison(column, op, tv)
    return None
