"""pq program parser: ``decoder | map {…} | select <expr> | formatter``.

Faithful grammar port of the reference (reference: src/program.rs:101-409):

- decoder (mandatory): ``/regex/`` (with ``\\/`` unescaping) or ``json``
- ``map { field, … }``: positional ``.0`` / named ``.foo`` fields with
  optional ``:str|:num|:ts ["fmt"]`` cast and ``as alias``, plus constant
  labels ``name: "value"``
- ``select <query expr>`` (note: the keyword requires a trailing space)
- formatter: ``to_json`` | ``to_promapi``

Validation parity: ≥1 map field, ≤1 timestamp field, unique end-names, no
mixed positional+named locations (src/program.rs:203-251).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .errors import ParseError
from .query.ast import Expr
from .query.parser import Cursor, _expr, _Miss

_LABEL_IDENT = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*")
_STRING_LIT = re.compile(r'"([^"]*)"')
_DIGITS = re.compile(r"\d+")


@dataclass
class RegexDecoder:
    regex: str


@dataclass
class JsonDecoder:
    pass


@dataclass
class MapperField:
    loc: int | str          # int = positional, str = named
    typ: str                # 'auto' | 'num' | 'str' | 'ts' | 'const'
    alias: str | None = None
    ts_format: str | None = None
    const_value: str | None = None

    @property
    def end_name(self) -> str:
        if self.alias is not None:
            return self.alias
        if isinstance(self.loc, str):
            return self.loc
        return f"f{self.loc}"


@dataclass
class Mapper:
    fields: list[MapperField]

    @property
    def guesses_ts(self) -> bool:
        """Whether some ``ts`` field has no format (the guess cascade)."""
        return any(f.typ == "ts" and f.ts_format is None for f in self.fields)


@dataclass
class ProgramAST:
    decoder: RegexDecoder | JsonDecoder
    mapper: Mapper | None
    query: Expr | None
    formatter: str | None  # 'json' | 'promapi' | None (human)


def _find_unescaped(s: str, needle: str) -> int | None:
    armed = False
    for i, c in enumerate(s):
        if not armed and c == "\\":
            armed = True
            continue
        if not armed and c == needle:
            return i
        armed = False
    return None


def parse_program(program: str) -> ProgramAST:
    cur = Cursor(program.strip())

    decoder = _decoder(cur)

    mapper = _pipe_stage(cur, _mapper)
    query = _pipe_stage(cur, _query)
    formatter = _pipe_stage(cur, _formatter)

    if cur.pos < len(cur.s):
        cur.fail("program", "EOF")
    return ProgramAST(decoder, mapper, query, formatter)


def _pipe_stage(cur: Cursor, stage):
    saved = cur.save()
    cur.ws()
    if not cur.char("|"):
        cur.restore(saved)
        return None
    cur.ws()
    try:
        return stage(cur)
    except _Miss:
        cur.restore(saved)
        return None


def _decoder(cur: Cursor):
    if cur.peek() == "/":
        cur.pos += 1
        rest = cur.s[cur.pos:]
        end = _find_unescaped(rest, "/")
        if end is None:
            cur.fail("regex", "closing '/' symbol")
        regex = rest[:end].replace(r"\/", "/")
        cur.pos += end + 1
        return RegexDecoder(regex)
    if cur.tag("json"):
        return JsonDecoder()
    raise ParseError(
        "a valid pq program must start from a known parser "
        "(supported parsers: regex /.../, json)", cur.pos,
    )


def _mapper(cur: Cursor) -> Mapper:
    if not cur.tag("map"):
        raise _Miss()
    cur.ws()

    def field(c: Cursor) -> MapperField:
        return _mapper_field(c)

    from .query.parser import _separated_list

    try:
        fields = _separated_list(
            cur, "{", "}", field, "map expression",
            "field definition (example: '.foo:str') or '}'",
        )
    except _Miss:
        cur.fail("map expression", "comma-separated list of fields")

    # validations (reference: src/program.rs:203-251)
    n_ts = sum(1 for f in fields if f.typ == "ts")
    end_names = set()
    n_by_name = n_by_pos = 0
    for f in fields:
        if f.end_name in end_names:
            raise ParseError(
                f"ambiguous field name in map expression '{f.end_name}'")
        end_names.add(f.end_name)
        if f.typ != "const":
            if isinstance(f.loc, str):
                n_by_name += 1
            else:
                n_by_pos += 1
    if not fields:
        raise ParseError("map expression must have at least one field definition")
    if n_ts > 1:
        raise ParseError("map expression cannot have more than one timestamp field definition")
    if n_by_name > 0 and n_by_pos > 0:
        raise ParseError(
            "all field definition must be either position-based (.0, .1, etc) "
            "or name-based (.foo, .bar, etc)")
    return Mapper(fields)


def _mapper_field(cur: Cursor) -> MapperField:
    if cur.char("."):
        # dynamic field
        m = cur.regex(_DIGITS)
        if m:
            loc: int | str = int(m.group(0))
        else:
            m = cur.regex(_LABEL_IDENT)
            if not m:
                cur.fail("map expression", "field position (number) or name (identifier)")
            loc = m.group(0)

        typ = "auto"
        ts_format = None
        saved = cur.save()
        cur.ws()
        if cur.char(":"):
            cur.ws()
            if cur.tag("str"):
                typ = "str"
            elif cur.tag("num"):
                typ = "num"
            elif cur.tag("ts"):
                typ = "ts"
                saved2 = cur.save()
                cur.ws()
                sm = cur.regex(_STRING_LIT)
                if sm:
                    ts_format = sm.group(1)
                else:
                    cur.restore(saved2)
            else:
                cur.fail("map expression", "type (str, num, or ts)")
        else:
            cur.restore(saved)

        alias = None
        saved = cur.save()
        cur.ws()
        if cur.tag("as "):
            cur.ws()
            am = cur.regex(_LABEL_IDENT)
            if not am:
                cur.fail("map expression", "alias (identifier)")
            alias = am.group(0)
        else:
            cur.restore(saved)

        return MapperField(loc=loc, typ=typ, alias=alias, ts_format=ts_format)

    # const field: name: "value"
    m = cur.regex(_LABEL_IDENT)
    if not m:
        raise _Miss()
    name = m.group(0)
    cur.ws()
    if not cur.char(":"):
        cur.fail("map expression", ":")
    cur.ws()
    sm = cur.regex(_STRING_LIT)
    if not sm:
        cur.fail("map expression", "string literal")
    return MapperField(loc=name, typ="const", const_value=sm.group(1))


def _query(cur: Cursor) -> Expr:
    if not cur.tag("select "):
        raise _Miss()
    cur.ws()
    try:
        return _expr(cur, None)
    except _Miss:
        cur.fail("query", "query expression")


def _formatter(cur: Cursor) -> str:
    if cur.tag("to_json"):
        return "json"
    if cur.tag("to_promapi"):
        return "promapi"
    raise _Miss()
