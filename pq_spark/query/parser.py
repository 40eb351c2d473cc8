"""PromQL-style expression parser — precedence-climbing (Pratt) loop.

Faithful Python reimplementation of the reference grammar
(reference: src/query/parser/expr.rs:19-120, vector.rs:13-129), including
its quirks:

- prefix alternation order is ``function_call | aggregate | paren | number |
  unary | vector_selector`` — so ``-1`` parses as a number literal, and a
  metric named ``nancy`` fails to parse (``nan`` number-literal prefix).
- keyword matching is *prefix* based (nom ``tag_no_case``): once an
  aggregate keyword matches and the mandatory ``(`` is missing, the whole
  parse fails hard (so a metric named ``summary`` is unparseable — the
  ``sum`` prefix wins). Missing ``(`` after a *function* name is a soft miss.
- the expression terminator set is {EOF, ',', ')', '|'}
  (expr.rs:21 ``EXPR_SEP``).
- ``^`` is LEFT-associative here (expr.rs:52 uses ``<=``), unlike Prometheus.
"""

from __future__ import annotations

import re

from ..errors import ParseError
from ..timeparse import parse_duration_prefix
from .ast import (
    AggregateOperation,
    BinaryOperation,
    Expr,
    FunctionCall,
    LabelMatcher,
    NumberLiteral,
    Parentheses,
    PRECEDENCE,
    Subquery,
    UnaryOperation,
    VectorSelector,
)


class _Miss(Exception):
    """Soft parser miss — try the next alternative (nom::Err::Error)."""


_WS = re.compile(r"\s*")
_LABEL_IDENT = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*")
_METRIC_IDENT = re.compile(r"[a-zA-Z_:][a-zA-Z0-9_:]*")
_STRING_LIT = re.compile(r'"([^"]*)"')
_OFFSET_KW = re.compile(r"offset\b")
# nom's `double`: optional sign, inf/infinity/nan (case-insensitive), or
# decimal with optional exponent.
_NUMBER = re.compile(
    r"[+-]?(?:[iI][nN][fF](?:[iI][nN][iI][tT][yY])?|[nN][aA][nN]"
    r"|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)"
)

_BINARY_OPS = [  # alternation order from expr.rs:127-145
    "+", "/", "*", "%", "^", "-", "==", ">=", ">", "<=", "<", "!=",
    "and", "unless", "or",
]

_AGGREGATE_OPS = [  # from expr.rs:293-309, with count_values hoisted:
    # the reference's alt() tries "count" first, so `count_values(...)`
    # can NEVER parse there (the tag match strands "_values" and the parse
    # hard-fails) — the same class of grammar bug as avg_over_time, fixed
    # the same way (longest-prefix first); programs it affects are hard
    # errors in the reference, so no parseable program changes meaning
    "avg", "bottomk", "count_values", "count", "group",
    # extensions beyond the reference grammar (planner rejects them unless
    # extensions are enabled): experimental-PromQL limitk / limit_ratio.
    # limit_ratio first — not a prefix pair, but longest-first by habit
    "limit_ratio", "limitk",
    "max", "min",
    "quantile", "stddev", "stdvar", "sum", "topk",
]

_FUNCTION_NAMES = [  # alternation order from expr.rs:423-436
    "clamp", "clamp_max", "clamp_min", "count_over_time", "last_over_time",
    "max_over_time", "min_over_time", "sum_over_time", "vector",
    # extensions beyond the reference grammar: avg_over_time is evaluable but
    # unparseable in pq v0.0.6 (missing from its tag list — a bug we fix),
    # and the PromQL rate family + label_replace are pure extensions. These
    # parse here; the planner rejects them unless extensions are enabled.
    "avg_over_time", "label_replace",
    "rate", "irate", "increase", "delta", "idelta",
    # Prometheus math functions (reference panics "Coming soon..." for any
    # function its evaluator lacks → pure extensions here). round() takes
    # the single-argument form (to_nearest fixed at 1).
    # absent_over_time listed before absent (the "("-follows check makes
    # either order correct; longest-prefix-first avoids relying on it)
    "absent_over_time", "absent",
    "abs", "ceil", "floor", "sqrt", "exp", "ln", "log10", "log2",
    "sgn", "round", "timestamp",
    # calendar functions (value read as epoch seconds, UTC)
    "minute", "hour", "day_of_week", "day_of_month", "day_of_year",
    "days_in_month", "month", "year",
    # statistical over-time extensions (tried by _function_call BEFORE
    # _aggregate, so the 'stddev'/'quantile' aggregate-op prefixes never
    # strand the '_over_time' suffix — the count_values bug class)
    "quantile_over_time", "stddev_over_time", "stdvar_over_time",
    "present_over_time", "mad_over_time",
    # round-5 extensions: counter analysis, linear regression, label_join,
    # trigonometry + pi. Prefix pairs (sin/sinh, …) are order-safe: the
    # "("-follows check rejects the short tag on the longer name's input.
    "resets", "changes", "deriv", "predict_linear", "label_join",
    "histogram_quantile", "double_exponential_smoothing", "holt_winters",
    "sinh", "cosh", "tanh", "asinh", "acosh", "atanh",
    "asin", "acos", "atan", "sin", "cos", "tan", "deg", "rad", "pi",
    "scalar", "time",
]

_FUNC_ARG_KINDS: dict[str, list[str]] = {
    # reference: expr.rs:442-456
    "avg_over_time": ["range"],
    "count_over_time": ["range"],
    "last_over_time": ["range"],
    "max_over_time": ["range"],
    "min_over_time": ["range"],
    "sum_over_time": ["range"],
    "clamp": ["vector", "number", "number"],
    "clamp_max": ["vector", "number"],
    "clamp_min": ["vector", "number"],
    "label_replace": ["vector", "string", "string", "string", "string"],
    "vector": ["number"],
    "rate": ["range"],
    "irate": ["range"],
    "increase": ["range"],
    "delta": ["range"],
    "idelta": ["range"],
    "absent": ["vector"],
    "absent_over_time": ["range"],
    "quantile_over_time": ["number", "range"],
    "stddev_over_time": ["range"],
    "stdvar_over_time": ["range"],
    "present_over_time": ["range"],
    "mad_over_time": ["range"],
    "abs": ["vector"],
    "ceil": ["vector"],
    "floor": ["vector"],
    "sqrt": ["vector"],
    "exp": ["vector"],
    "ln": ["vector"],
    "log10": ["vector"],
    "log2": ["vector"],
    "sgn": ["vector"],
    "round": ["vector"],
    "timestamp": ["vector"],
    "minute": ["vector"],
    "hour": ["vector"],
    "day_of_week": ["vector"],
    "day_of_month": ["vector"],
    "day_of_year": ["vector"],
    "days_in_month": ["vector"],
    "month": ["vector"],
    "year": ["vector"],
    "resets": ["range"],
    "changes": ["range"],
    "deriv": ["range"],
    "predict_linear": ["range", "number"],
    # label_join is VARIADIC in its trailing source labels — handled as a
    # special case in _function_call (>= 1 source required here)
    "label_join": ["vector", "string", "string", "string"],
    "sin": ["vector"], "cos": ["vector"], "tan": ["vector"],
    "asin": ["vector"], "acos": ["vector"], "atan": ["vector"],
    "sinh": ["vector"], "cosh": ["vector"], "tanh": ["vector"],
    "asinh": ["vector"], "acosh": ["vector"], "atanh": ["vector"],
    "deg": ["vector"], "rad": ["vector"],
    "pi": [],
    "scalar": ["vector"],
    "time": [],
    "histogram_quantile": ["number", "vector"],
    "double_exponential_smoothing": ["range", "number", "number"],
    "holt_winters": ["range", "number", "number"],
}


class Cursor:
    __slots__ = ("s", "pos")

    def __init__(self, s: str):
        self.s = s
        self.pos = 0

    def ws(self) -> None:
        self.pos = _WS.match(self.s, self.pos).end()

    def peek(self) -> str | None:
        return self.s[self.pos] if self.pos < len(self.s) else None

    def peek_after_ws(self) -> str | None:
        p = _WS.match(self.s, self.pos).end()
        return self.s[p] if p < len(self.s) else None

    def tag(self, t: str) -> bool:
        """Case-insensitive prefix match (nom tag_no_case); consumes."""
        if self.s[self.pos : self.pos + len(t)].lower() == t.lower():
            self.pos += len(t)
            return True
        return False

    def char(self, c: str) -> bool:
        if self.pos < len(self.s) and self.s[self.pos] == c:
            self.pos += 1
            return True
        return False

    def regex(self, pat: re.Pattern) -> re.Match | None:
        m = pat.match(self.s, self.pos)
        if m:
            self.pos = m.end()
        return m

    def save(self) -> int:
        return self.pos

    def restore(self, p: int) -> None:
        self.pos = p

    def fail(self, wherein: str, expected: str):
        raise ParseError(f"failed to parse {wherein}: expected {expected}", self.pos)


def parse_expr(s: str) -> Expr:
    cur = Cursor(s)
    cur.ws()
    node = _expr(cur, None)
    cur.ws()
    if cur.pos != len(s):
        cur.fail("query expression", "EOF")
    return node


def _expr(cur: Cursor, min_prec: int | None) -> Expr:
    """Parse an expression; stops before ops with precedence <= min_prec."""
    lhs = _prefix(cur)

    while cur.peek_after_ws() not in (None, ",", ")", "|"):
        saved = cur.save()
        cur.ws()
        op = _binary_op(cur)
        if op is None:
            cur.restore(saved)
            cur.fail("binary expression", "binary operator")
        if PRECEDENCE[op] <= (min_prec if min_prec is not None else 0):
            cur.restore(saved)
            break

        cur.ws()
        bool_modifier = cur.tag("bool")
        if bool_modifier:
            cur.ws()

        label_matching = _label_matching(cur)
        if label_matching is not None:
            cur.ws()

        group_modifier = _group_modifier(cur)
        if group_modifier is not None:
            cur.ws()

        try:
            rhs = _expr(cur, PRECEDENCE[op])
        except _Miss:
            cur.fail("binary expression", "right-hand expression")

        lhs = BinaryOperation(
            op, lhs, rhs,
            bool_modifier=bool_modifier,
            label_matching=label_matching,
            group_modifier=group_modifier,
        )

    return lhs


def _prefix(cur: Cursor) -> Expr:
    # alternation order matters (expr.rs:25-34)
    for alt in (_function_call, _aggregate, _paren, _number_literal, _unary,
                _vector_selector_expr):
        saved = cur.save()
        try:
            return _postfix_subquery(cur, alt(cur))
        except _Miss:
            cur.restore(saved)
    cur.fail("expression", "a valid expression")


def _postfix_subquery(cur: Cursor, node: Expr) -> Expr:
    """Extension postfix: ``expr[range:step]`` (PromQL subquery — no such
    production in the reference grammar, expr.rs:25-34). ``:step`` may be
    empty (default = outer evaluation interval), and the subquery may carry
    its own ``offset <dur>``. Applied greedily so nested subqueries like
    ``max_over_time(x[2m:30s])[10m:1m]`` parse."""
    while True:
        saved = cur.save()
        cur.ws()
        if not cur.char("["):
            cur.restore(saved)
            return node
        rest = cur.s[cur.pos:]
        try:
            range_ms, consumed = parse_duration_prefix(rest)
        except ParseError:
            cur.restore(saved)
            return node
        if cur.s[cur.pos + consumed : cur.pos + consumed + 1] != ":":
            # plain `[dur]` after a non-selector expression is not a range
            # selector; leave it unconsumed (top-level parse will fail with
            # the reference's EOF error, same as `rate(v)[1m]` would)
            cur.restore(saved)
            return node
        cur.pos += consumed + 1
        step_ms = None
        if cur.peek() != "]":
            rest = cur.s[cur.pos:]
            try:
                step_ms, consumed = parse_duration_prefix(rest)
            except ParseError:
                cur.fail("subquery", "step duration literal")
            cur.pos += consumed
        if not cur.char("]"):
            cur.fail("subquery", "]")
        offset_ms, at_ms = _selector_modifiers(cur)
        node = Subquery(node, range_ms, step_ms, offset_ms, at_ms)


def _binary_op(cur: Cursor) -> str | None:
    for op in _BINARY_OPS:
        if cur.tag(op):
            return op
    return None


def _number_literal(cur: Cursor) -> Expr:
    m = cur.regex(_NUMBER)
    if not m:
        raise _Miss()
    return NumberLiteral(float(m.group(0).lower().replace("infinity", "inf")))


def _unary(cur: Cursor) -> Expr:
    c = cur.peek()
    if c not in ("+", "-"):
        raise _Miss()
    cur.pos += 1
    cur.ws()
    inner = _expr(cur, PRECEDENCE["*"])  # expr.rs:379-383
    return UnaryOperation(c, inner)


def _paren(cur: Cursor) -> Expr:
    if not cur.char("("):
        raise _Miss()
    cur.ws()
    try:
        inner = _expr(cur, None)
    except _Miss:
        cur.fail("parentheses", "valid expression")
    cur.ws()
    if not cur.char(")"):
        cur.fail("parentheses", ")")
    return Parentheses(inner)


def _separated_list(cur: Cursor, opener: str, closer: str, parse_elem,
                    wherein: str, expected: str) -> list:
    """nom separated_list parity (reference: src/utils/parse/common.rs)."""
    if not cur.char(opener):
        raise _Miss()
    elems = []
    while True:
        saved = cur.save()
        cur.ws()
        try:
            elems.append(parse_elem(cur))
        except _Miss:
            cur.restore(saved)
            break
        cur.ws()
        saved = cur.save()
        if not cur.char(","):
            cur.restore(saved)
            break
    cur.ws()
    if not cur.char(closer):
        cur.fail(wherein, expected)
    return elems


def _grouping_labels(cur: Cursor) -> list[str]:
    def one(c: Cursor) -> str:
        m = c.regex(_LABEL_IDENT)
        if not m:
            raise _Miss()
        return m.group(0)

    return _separated_list(cur, "(", ")", one, "grouping labels clause",
                           'label or ")"')


def _label_matching(cur: Cursor):
    saved = cur.save()
    if cur.tag("on"):
        kind = "on"
    elif cur.tag("ignoring"):
        kind = "ignoring"
    else:
        return None
    cur.ws()
    try:
        labels = _grouping_labels(cur)
    except _Miss:
        cur.restore(saved)
        return None
    return (kind, frozenset(labels))


def _group_modifier(cur: Cursor):
    saved = cur.save()
    if cur.tag("group_left"):
        kind = "left"
    elif cur.tag("group_right"):
        kind = "right"
    else:
        return None
    pre = cur.save()
    cur.ws()
    try:
        labels = _grouping_labels(cur)
    except _Miss:
        cur.restore(pre)
        labels = []
    del saved
    return (kind, labels)


def _aggregate_modifier(cur: Cursor):
    if cur.tag("by"):
        kind = "by"
    elif cur.tag("without"):
        kind = "without"
    else:
        return None
    cur.ws()
    try:
        labels = _grouping_labels(cur)
    except _Miss:
        cur.fail("aggregation", "label list")
    return (kind, frozenset(labels))


def _aggregate(cur: Cursor) -> Expr:
    op = None
    for cand in _AGGREGATE_OPS:
        if cur.tag(cand):
            op = cand
            break
    if op is None:
        raise _Miss()

    cur.ws()
    modifier = _aggregate_modifier(cur)
    cur.ws()
    if not cur.char("("):
        # hard failure — reference expr.rs:193-203 (a metric named e.g.
        # `summary` is unparseable in pq; we keep that behavior)
        cur.fail("aggregate expression", "(")

    argument = None
    if op == "count_values":
        cur.ws()
        m = cur.regex(_STRING_LIT)
        if not m:
            cur.fail("count_values operator", "string literal")
        argument = m.group(1)
    elif op in ("quantile", "topk", "bottomk", "limitk", "limit_ratio"):
        cur.ws()
        m = cur.regex(_NUMBER)
        if not m:
            cur.fail("quantile, topk, or bottomk operator", "number literal")
        argument = float(m.group(0).lower().replace("infinity", "inf"))

    if argument is not None:
        cur.ws()
        if not cur.char(","):
            cur.fail("count_values, quantile, topk, or bottomk operator", ",")

    cur.ws()
    try:
        inner = _expr(cur, None)
    except _Miss:
        cur.fail("aggregate operator", "valid expression")
    cur.ws()
    if not cur.char(")"):
        cur.fail("aggregate expression", ")")

    if modifier is None:
        saved = cur.save()
        cur.ws()
        modifier = _aggregate_modifier(cur)
        if modifier is None:
            cur.restore(saved)

    return AggregateOperation(op, inner, modifier, argument)


def _function_call(cur: Cursor) -> Expr:
    name = None
    for cand in _FUNCTION_NAMES:
        saved = cur.save()
        if cur.tag(cand):
            after = cur.save()
            cur.ws()
            if cur.char("("):
                name = cand
                break
            cur.restore(saved)
        else:
            cur.restore(saved)
    if name is None:
        raise _Miss()

    args: list = []
    kinds = _FUNC_ARG_KINDS[name]
    for i, kind in enumerate(kinds):
        cur.ws()
        if kind == "number":
            m = cur.regex(_NUMBER)
            if not m:
                cur.fail("function call", "number literal")
            args.append(float(m.group(0).lower().replace("infinity", "inf")))
        elif kind == "string":
            m = cur.regex(_STRING_LIT)
            if not m:
                cur.fail("function call", "string literal")
            args.append(m.group(1))
        else:  # vector / range expression
            try:
                args.append(_expr(cur, None))
            except _Miss:
                cur.fail("function call", f"{kind} vector")
        if i != len(kinds) - 1:
            cur.ws()
            if not cur.char(","):
                cur.fail("function call", "more argument(s)")

    if name == "label_join":
        # variadic tail: any further comma-separated source-label strings
        cur.ws()
        while cur.char(","):
            cur.ws()
            m = cur.regex(_STRING_LIT)
            if not m:
                cur.fail("function call", "source label as string literal")
            args.append(m.group(1))
            cur.ws()

    cur.ws()
    if not cur.char(")"):
        cur.fail("function call", ")")
    return FunctionCall(name, args)


def _label_matcher(cur: Cursor) -> LabelMatcher:
    m = cur.regex(_LABEL_IDENT)
    if not m:
        raise _Miss()
    label = m.group(0)
    cur.ws()
    op = None
    for cand in ("=~", "!~", "!=", "="):  # vector.rs:93-99 order
        if cur.tag(cand):
            op = cand
            break
    if op is None:
        cur.fail("label matching", 'one of "=", "!=", "=~", "!~"')
    cur.ws()
    sm = cur.regex(_STRING_LIT)
    if not sm:
        cur.fail("label matching", "label value as string literal")
    return LabelMatcher(label, op, sm.group(1))


def _vector_selector(cur: Cursor) -> VectorSelector:
    m = cur.regex(_METRIC_IDENT)
    name = m.group(0) if m else None

    saved = cur.save()
    cur.ws()
    try:
        matchers = _separated_list(cur, "{", "}", _label_matcher,
                                   "label matching", 'identifier or "}"')
    except _Miss:
        cur.restore(saved)
        if name is None:
            raise
        matchers = []

    saved = cur.save()
    cur.ws()
    duration_ms = None
    if cur.char("["):
        rest = cur.s[cur.pos:]
        try:
            duration_ms, consumed = parse_duration_prefix(rest)
        except ParseError:
            cur.fail("range vector selector", "duration literal")
        cur.pos += consumed
        if cur.peek() == ":":
            # `sel[range:step]` is a SUBQUERY over the instant selector —
            # leave the whole bracket for the postfix handler (_prefix)
            duration_ms = None
            cur.restore(saved)
        elif not cur.char("]"):
            cur.fail("range vector selector", "]")
    else:
        cur.restore(saved)

    # extensions: `offset <duration>` (the reference leaves this as a TODO,
    # src/query/parser/expr.rs:33) and the PromQL `@ <unix-ts>` modifier —
    # each at most once, in either order (PromQL). Consumed only when the
    # keyword/sigil is followed by its literal; the evaluator gates both
    # behind extensions.
    offset_ms, at_ms = _selector_modifiers(cur)

    return VectorSelector.create(name, matchers, duration_ms, offset_ms, at_ms)


def _selector_modifiers(cur: Cursor) -> tuple[int, int | None]:
    """Postfix ``offset <dur>`` / ``@ <ts>`` modifiers (order-free, once
    each). ``@`` takes a unix timestamp in (possibly fractional) seconds."""
    offset_ms = 0
    at_ms = None
    seen_off = seen_at = False
    while True:
        saved = cur.save()
        cur.ws()
        if not seen_off and cur.regex(_OFFSET_KW):
            cur.ws()
            rest = cur.s[cur.pos:]
            try:
                offset_ms, consumed = parse_duration_prefix(rest)
            except ParseError:
                cur.fail("offset modifier", "duration literal")
            cur.pos += consumed
            seen_off = True
            continue
        if not seen_at and cur.char("@"):
            cur.ws()
            m = cur.regex(_NUMBER)
            if not m:
                cur.fail("@ modifier", "unix timestamp literal")
            v = float(m.group(0).lower().replace("infinity", "inf"))
            if v != v or v in (float("inf"), float("-inf")):
                cur.fail("@ modifier", "finite timestamp")
            at_ms = int(round(v * 1000.0))
            seen_at = True
            continue
        cur.restore(saved)
        break
    return offset_ms, at_ms


def _vector_selector_expr(cur: Cursor) -> Expr:
    return _vector_selector(cur)
