"""Ingest: log lines → entries → records → the samples fact table.

The samples fact table is the engine's core relation — one long, narrow
DataFrame::

    samples(seq: long, ts: long, name: string,
            labels: map<string,string>,   -- INCLUDES __name__
            value: double)

Derivation mirrors the reference pipeline stages (decode → map → sample
fan-out, reference: src/parse/**, src/query/sample.rs:75-113) but is
expressed as native Spark SQL expressions so Catalyst can push filters and
prune columns; the only Python in the hot path is Arrow-batched pandas UDFs
for the JSON decoder and the tail of the timestamp guess-cascade (shapes the
JVM half does not claim). Every reference guess shape, RFC2822 included, is
claimed in the JVM; a regex-decoded program plans the Python tail only when
one of its lines needs it (``ts_fallback_needed``), so a log the JVM fully
claims starts no Python worker.

The ``map`` clause is one walk of the mapper's fields (``map_entries``):
each entry gets its mapped columns and a first-error column, and the
records (``records_of``), the ``-v`` errors (``errors_of``) and the
fallback gate all read that one column.

Scale notes (100 TB):
- the regex decoder is JVM-side ``regexp_extract`` (codegen'd, no Python);
  one regex evaluation per capture group — for wide patterns prefer the
  table-ingest path (``samples_from_table``) which skips decoding entirely.
- the line number only feeds the synthetic ``__line__`` metric, so
  table-based ingest uses a per-partition id instead of a global one.
"""

from __future__ import annotations

import re as _pyre
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from ..errors import PqError
from ..program import JsonDecoder, Mapper, RegexDecoder
from ..query.ast import LINE_METRIC, NAME_LABEL
from ..timeparse import parse_time, strptime_to_java, try_parse_time
from .frames import empty_map, series_key, static_sig_expr


def lines_df(spark: SparkSession, lines: list[str]) -> DataFrame:
    """Small-input helper (golden tests): 1-based line numbers
    (reference: src/input/reader.rs:25-38)."""
    rows = [(i + 1, s) for i, s in enumerate(lines)]
    return spark.createDataFrame(rows, "line_no long, line string")


# ---------------------------------------------------------------------------
# decoders → entries(line_no, arr, map)
# ---------------------------------------------------------------------------


def decode(lines: DataFrame, decoder) -> DataFrame:
    if isinstance(decoder, RegexDecoder):
        return _decode_regex(lines, decoder.regex)
    if isinstance(decoder, JsonDecoder):
        return _decode_json(lines)
    raise PqError(f"unknown decoder {decoder!r}")


def decode_errors(lines: DataFrame, decoder) -> DataFrame:
    """Per-line decode errors → DF[line_no, error] — the ``-v`` channel
    (reference: src/runner.rs:138-146 prints them to stderr and skips).
    Message texts mirror the reference's error Display chain
    (error.rs:27-33, decoder.rs:47, regex.rs:22, json.rs:52-56); the inner
    serde_json message is approximated by Python's json error."""
    if isinstance(decoder, RegexDecoder):
        if decoder.regex == "":
            return lines.select("line_no", F.lit("x").alias("error")).limit(0)
        return lines.filter(~F.col("line").rlike(decoder.regex)).select(
            "line_no",
            F.lit("line decoding failed. Source error: no match found").alias("error"),
        )
    if isinstance(decoder, JsonDecoder):

        @pandas_udf("string")
        def _err(s: pd.Series) -> pd.Series:
            import json

            def one(line):
                try:
                    obj = json.loads(line)
                except (ValueError, TypeError) as e:
                    return (
                        "line decoding failed. Source error: "
                        f"JSON decoding failed. Source error: {e}"
                    )
                if not isinstance(obj, (list, dict)):
                    return (
                        "line decoding failed. Source error: "
                        "JSON decoder supports only flat arrays and objects"
                    )
                return None

            return s.map(one)

        return (
            lines.select("line_no", _err(F.col("line")).alias("error"))
            .filter(F.col("error").isNotNull())
        )
    raise PqError(f"unknown decoder {decoder!r}")


def _decode_regex(lines: DataFrame, pattern: str) -> DataFrame:
    """Regex decoder (reference: src/parse/decoding/regex.rs:18-34).

    Group 0 is skipped when the pattern has ≥1 capture group; non-matching
    lines are record errors (dropped). Pure JVM path: ``rlike`` +
    ``regexp_extract`` per group.
    """
    try:
        n_groups = _pyre.compile(pattern).groups
    except _pyre.error as e:
        raise PqError(f"bad regex pattern: {e}")

    if pattern == "":
        matched = F.lit(True)
    else:
        matched = F.col("line").rlike(pattern)

    if n_groups == 0:
        fields = [F.regexp_extract("line", pattern, 0)]
    else:
        fields = [F.regexp_extract("line", pattern, i) for i in range(1, n_groups + 1)]

    return (
        lines.filter(matched)
        .select(
            "line_no",
            F.array(*fields).alias("arr"),
            F.lit(None).cast("map<string,string>").alias("map"),
        )
    )


def _decode_json(lines: DataFrame) -> DataFrame:
    """JSON decoder (reference: src/parse/decoding/json.rs:48-59).

    Flat arrays → positional entries; flat objects → named entries; nested
    values dropped; bool/null/number stringified with serde parity.
    Arrow-batched pandas UDF (JSON shape is dynamic per line, so a static
    from_json schema can't replicate the reference's behavior).
    """

    @pandas_udf("struct<arr: array<string>, map: map<string,string>>")
    def _dec(s: pd.Series) -> pd.DataFrame:
        import json

        def scalar(v):
            if isinstance(v, bool):
                return "true" if v else "false"
            if v is None:
                return "null"
            if isinstance(v, (int, float)):
                if isinstance(v, int):
                    return str(v)
                r = repr(v)
                return r[:-2] if r.endswith(".0") else r
            if isinstance(v, str):
                return v
            return None  # nested → dropped

        arrs, maps = [], []
        for line in s:
            arr = mp = None
            try:
                obj = json.loads(line)
                if isinstance(obj, list):
                    arr = [x for x in (scalar(v) for v in obj) if x is not None]
                elif isinstance(obj, dict):
                    mp = {k: sv for k, v in obj.items() if (sv := scalar(v)) is not None}
            except (ValueError, TypeError):
                pass
            arrs.append(arr)
            maps.append(mp)
        return pd.DataFrame({"arr": arrs, "map": maps})

    dec = _dec(F.col("line"))
    return (
        lines.select("line_no", dec.alias("_e"))
        .select("line_no", F.col("_e.arr").alias("arr"), F.col("_e.map").alias("map"))
        .filter(F.col("arr").isNotNull() | F.col("map").isNotNull())
    )


# ---------------------------------------------------------------------------
# mapper → mapped entries(seq, ts, labels, values, error)
# ---------------------------------------------------------------------------


def _guess_ts_udf():
    @pandas_udf("long")
    def _guess(s: pd.Series) -> pd.Series:
        # fallback tail of the guess cascade: with the JVM half claiming
        # the common shapes, batches arrive mostly/entirely null — skip
        # them instead of running the per-element lambda on every row
        mask = s.notna()
        if not mask.any():
            return pd.Series([None] * len(s), index=s.index, dtype="Int64")
        out = pd.Series([None] * len(s), index=s.index, dtype="object")
        out[mask] = s[mask].map(
            lambda v: try_parse_time(v) if isinstance(v, str) else None
        )
        return out.astype("Int64")

    return _guess


_TS_MONTHS_RE = "Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec"


def _ts_frac_ms(g):
    # g captures the fraction INCLUDING the dot; ≤3 digits by regex, so
    # right-padding to ms equals the Python cascade's round(frac*1000)
    return F.when(g == "", F.lit(0)).otherwise(
        F.rpad(F.substring(g, 2, 3), 3, "0").cast("int")
    )


def _ts_off_ms(g):
    # "+0200"-style numeric zone → signed offset ms
    sign = F.when(F.substring(g, 1, 1) == "-", F.lit(-1)).otherwise(F.lit(1))
    return sign * (
        F.substring(g, 2, 2).cast("int") * 3600
        + F.substring(g, 4, 2).cast("int") * 60
    ) * 1000


def _guess_ts_jvm(s):
    """JVM half of the format-guess cascade (reference:
    src/utils/time.rs:50-88): Unix ms for the shapes provably equal to
    ``try_parse_time``, NULL otherwise — ``_stage_guess_ts`` stages the
    RFC2822 claim above it and routes rows both leave NULL to the Python
    cascade. Claim rules that keep the two paths identical:

    - fractions limited to ≤3 digits (longer ones need Python's
      round-to-ms); months/weekday pinned to the exact spellings the
      Python tables accept (Spark's ``MMM`` parse is case-INSENSITIVE,
      Python's nginx table is not — a case-variant month must fall
      through to Python, which rejects it);
    - year 0000 excluded everywhere (valid proleptic date for java.time,
      ``datetime`` raises — the fallback preserves the raise);
    - invalid dates inside a matching shape (Feb 30) parse to NULL via
      ``try_to_timestamp`` and fall back to Python, which raises exactly
      as before;
    - the shapes of the LATER cascade stages (nginx/ISO/unix digits) are
      disjoint from everything ``email.utils.parsedate_to_datetime``
      (stage 2) accepts, so shape-dispatch preserves cascade order.
    """
    # --- ISO family (RFC3339 / ISO±'T' / ISO + offset) ---
    # fixed-position core "yyyy-MM-dd[T ]HH:mm:ss": validated by
    # try_to_timestamp (digits, ranges, real calendar dates), so no
    # full-string regex is needed — only the variable TAIL (fraction /
    # zone, ≤10 chars) is regex-checked. A row whose tail doesn't match
    # yields NULL and falls back to the Python cascade, which re-tries
    # every format — misrouting can cost time, never correctness.
    core_iso = F.try_to_timestamp(
        F.concat(F.substring(s, 1, 10), F.lit(" "), F.substring(s, 12, 8)),
        F.lit("yyyy-MM-dd HH:mm:ss"),
    )
    sep = F.substring(s, 11, 1)
    tail = F.substring(s, 20, 32)
    T3339 = r"^(\.\d{1,3})?(Z|z|[+-]\d{2}:\d{2})$"
    TFRAC = r"^(\.\d{1,3})?$"
    TOFF = r"^(\.\d{1,3})? ([+-]\d{4})$"
    zone3339 = F.regexp_extract(tail, T3339, 2)
    off3339 = F.when(zone3339.isin("Z", "z"), F.lit(0)).otherwise(
        F.when(F.substring(zone3339, 1, 1) == "-", F.lit(-1)).otherwise(F.lit(1))
        * (
            F.substring(zone3339, 2, 2).cast("int") * 3600
            + F.substring(zone3339, 5, 2).cast("int") * 60
        )
        * 1000
    )
    iso_ms = F.unix_millis(core_iso)
    v_iso = F.when(
        # year 0000 is a valid proleptic java.time date but raises in
        # datetime — leave it to the Python path (which raises, as before)
        (F.substring(s, 1, 4) != "0000") & iso_ms.isNotNull(),
        F.when(
            (sep == "T") & tail.rlike(T3339),
            iso_ms + _ts_frac_ms(F.regexp_extract(tail, T3339, 1)) - off3339,
        )
        .when(
            sep.isin("T", " ") & tail.rlike(TFRAC),
            iso_ms + _ts_frac_ms(F.regexp_extract(tail, TFRAC, 1)),
        )
        .when(
            (sep == " ") & tail.rlike(TOFF),
            iso_ms
            + _ts_frac_ms(F.regexp_extract(tail, TOFF, 1))
            - _ts_off_ms(F.regexp_extract(tail, TOFF, 2)),
        ),
    )

    # --- nginx "dd/Mon/yyyy:HH:mm:ss +zzzz" — fully positional ---
    # month pinned to the EXACT proper-case spellings the Python table
    # accepts (Spark's MMM parse is case-insensitive, the table is not)
    ngx_zone = F.substring(s, 22, 5)
    v_nginx = F.when(
        (F.length(s) == 26)
        & F.substring(s, 4, 3).isin(*_TS_MONTHS_RE.split("|"))
        & (F.substring(s, 8, 4) != "0000")
        & (F.substring(s, 21, 1) == " ")
        & ngx_zone.rlike(r"^[+-]\d{4}$"),
        F.unix_millis(
            F.try_to_timestamp(F.substring(s, 1, 20), F.lit("dd/MMM/yyyy:HH:mm:ss"))
        )
        - _ts_off_ms(ngx_zone),
    )

    # --- unix seconds / millis (10 / 13 digits) ---
    v_unix = F.when(s.rlike(r"^\d{10}$"), s.cast("long") * 1000).otherwise(
        F.when(s.rlike(r"^\d{13}$"), s.cast("long"))
    )

    # structural pre-dispatch: each shape implies one cheap substring
    # fact, so a row attempts ~one family instead of all of them.
    # RFC2822 is claimed by ``_rfc2822_jvm`` in its OWN projection above
    # this one (``_stage_guess_ts``), never in here: added to this
    # expression it pushes the generated method past the JIT's
    # huge-method limit, and rows that are not RFC2822 parse ~2x slower
    # (bench_extra.py --ts-bench measures both layouts).
    return (
        F.when(F.substring(s, 5, 1) == "-", v_iso)  # yyyy-…
        .when(F.substring(s, 3, 1) == "/", v_nginx)  # dd/Mon/yyyy:…
        .when(
            F.length(s).isin(10, 13) & F.substring(s, 1, 1).isin(*"0123456789"),
            v_unix,
        )
    )


def _explicit_ts_udf(fmt: str):
    @pandas_udf("long")
    def _parse(s: pd.Series) -> pd.Series:
        def one(v):
            if not isinstance(v, str):
                return None
            try:
                return parse_time(v, fmt)
            except Exception:
                return None

        return s.map(one).astype("Int64")

    return _parse


_TS_DAYS_RE = "Mon|Tue|Wed|Thu|Fri|Sat|Sun"
_RFC2822_RE = (
    rf"^({_TS_DAYS_RE}), \d{{1,2}} ({_TS_MONTHS_RE}) [1-9]\d{{3}} "
    r"\d{2}:\d{2}:[0-5]\d [+-]\d{4}$"
)


def _rfc2822_jvm(s):
    """JVM claim of the cascade's RFC2822 stage (``parsedate_to_datetime``)
    for its common shape ``Www, d[d] Mmm yyyy HH:mm:ss ±hhmm``; NULL
    otherwise. Claim rules, on top of ``_guess_ts_jvm``'s:

    - proper-case weekday and month only (parsedate lower-cases both and
      ignores the weekday entirely; Spark's ``MMM`` is case-insensitive),
      so every case variant falls through to Python;
    - years 1000–9999 only: parsedate maps a two-digit year into
      1969–2068, and three-digit years are rare enough to leave to it;
    - seconds 00–59; hours, minutes, dates and offsets (``+0160``,
      ``+1801``) that java.time rejects parse to NULL and fall back;
      ``-0000`` is UTC on both paths;
    - the weekday is skipped, not parsed: Spark 4 rejects ``EEE`` in
      parse patterns, and parsedate never checks it against the date.
    """
    return F.when(
        s.rlike(_RFC2822_RE),
        F.unix_millis(
            F.try_to_timestamp(F.substring(s, 6, 32), F.lit("d MMM yyyy HH:mm:ss Z"))
        ),
    )


def _stage_guess_ts(df: DataFrame, datum, prefix: str, fallback: bool = True):
    """Add the no-format guess cascade of ``datum`` to ``df`` as staged
    columns; returns ``(df, parsed column)``.

    ``{prefix}j`` is the JVM cascade; ``{prefix}c`` claims RFC2822 on the
    rows it left NULL, in its OWN projection (each staged column is read
    twice above it, so Catalyst keeps the projections apart and
    whole-stage codegen emits one method per projection — one method
    holding both crosses the JIT's huge-method limit); with ``fallback``,
    ``{prefix}p`` sends the rows both left NULL, and only those, to the
    pandas cascade — every other row crosses the Arrow boundary as a
    null. Without it the plan has no Python node at all. Its one caller
    is ``map_entries``, which the CLI builds with ``fallback=False`` only
    when ``ts_fallback_needed`` said no row needs it, which keeps the
    output identical.
    """
    jname, cname, pname = f"{prefix}j", f"{prefix}c", f"{prefix}p"
    df = df.withColumn(jname, _guess_ts_jvm(datum))
    j = F.col(jname)
    df = df.withColumn(cname, F.when(j.isNull(), _rfc2822_jvm(datum)).otherwise(j))
    parsed = F.col(cname)
    if fallback:
        df = df.withColumn(
            pname,
            F.coalesce(parsed, _guess_ts_udf()(F.when(parsed.isNull(), datum))),
        )
        parsed = F.col(pname)
    return df, parsed


def _datum(fld):
    # NULL on OOB even under ANSI; try_element_at trips a Janino codegen
    # bug (interpreted fallback)
    if isinstance(fld.loc, int):
        return F.get(F.col("arr"), fld.loc)
    return F.col("map").getItem(fld.loc)


def _ts_expr(datum, fmt: str):
    java = strptime_to_java(fmt)
    if java is not None:
        return F.unix_millis(F.try_to_timestamp(datum, F.lit(java)))
    return _explicit_ts_udf(fmt)(datum)


_GUESS_ERR = "couldn't guess time format"


def map_entries(
    entries: DataFrame, mapper: Mapper, ts_fallback: bool = True
) -> DataFrame:
    """Apply the ``map { … }`` clause (reference:
    src/parse/mapping/strategy.rs:17-93): one row per entry,
    ``(seq, ts, labels, values, error)``.

    ``error`` is NULL for a record, else the message of the first failing
    field (strategy.rs:43,64,73,77-81,90; utils/time.rs:41): the mapper
    returns on the first error, so a chain in declaration order gives both
    the dropped set and the reported message. ``records_of`` and
    ``errors_of`` are its two sides (src/runner.rs:150-157 skips
    the errors, ``-v`` prints them). ``ts_fallback=False`` leaves the
    pandas tail out of a no-format ``ts`` field (see ``_stage_guess_ts``).
    """
    df = entries
    error = F.lit(None).cast("string")
    ts_col = F.lit(None).cast("long")
    labels, values = [], []

    def fail(cond, msg):
        # coalesce names ``error`` once; when(error IS NOT NULL, error)
        # named it twice, doubling the expression tree at every check
        nonlocal error
        error = F.coalesce(error, F.when(cond, F.lit(msg)))

    def entry(name, col):
        return F.struct(F.lit(name).alias("key"), col.alias("value"))

    for i, fld in enumerate(mapper.fields):
        if fld.typ == "const":
            labels.append(entry(fld.end_name, F.lit(fld.const_value)))
            continue
        df = df.withColumn(f"_d{i}", _datum(fld))
        datum = F.col(f"_d{i}")
        if isinstance(fld.loc, int):
            fail(F.col("arr").isNull(), "dict entry cannot be mapped with positional fields")
            fail(datum.isNull(), "tuple entry index out of range")
        else:
            fail(F.col("map").isNull(), "tuple entry cannot be mapped with named fields")
            fail(datum.isNull(), "dict entry field not found")
        num = datum.try_cast("double")
        if fld.typ == "str":
            labels.append(entry(fld.end_name, datum))
        elif fld.typ == "num":
            fail(num.isNull(), "could not parse numeric field")
            values.append(entry(fld.end_name, num))
        elif fld.typ == "auto":
            # numeric ⇒ value, else ⇒ label (strategy.rs:31-38)
            values.append(F.when(num.isNotNull(), entry(fld.end_name, num)))
            labels.append(F.when(num.isNull(), entry(fld.end_name, datum)))
        elif fld.typ == "ts" and fld.ts_format is None:
            df, ts_col = _stage_guess_ts(df, datum, f"_ts{i}", ts_fallback)
            fail(ts_col.isNull(), _GUESS_ERR)
        elif fld.typ == "ts":
            ts_col = _ts_expr(datum, fld.ts_format)
            fail(ts_col.isNull(), "couldn't parse timestamp")
        else:  # pragma: no cover
            raise PqError(f"unknown field type {fld.typ}")

    def as_map(entries_list, value_type):
        if not entries_list:
            return empty_map(value_type)
        return F.map_from_entries(
            F.filter(F.array(*entries_list), lambda x: x.isNotNull())
        )

    return df.select(
        F.col("line_no").alias("seq"),
        ts_col.alias("ts"),
        as_map(labels, "string").alias("labels"),
        as_map(values, "double").alias("values"),
        error.alias("error"),
    )


def _rows_where(df: DataFrame, cond, *cols) -> DataFrame:
    # a generator, not a Filter: the optimizer pushes a filter below the
    # staged timestamp projections and inlines them into it, so every row
    # would run the guess cascade (and cross to Python) a second time
    return df.select(F.inline(F.when(cond, F.array(F.struct(*cols)))))


def records_of(
    mapped: DataFrame, since_ms: int | None = None, until_ms: int | None = None
) -> DataFrame:
    """The records of ``map_entries``: entries that mapped, inside the
    ``--since``/``--until`` range (reference: src/parse/mapping/
    mapper.rs:45-54; untimestamped records pass both checks)."""
    ts = F.col("ts")
    keep = F.col("error").isNull()
    if since_ms is not None:
        keep = keep & (ts.isNull() | (ts >= F.lit(since_ms)))
    if until_ms is not None:
        keep = keep & (ts.isNull() | (ts <= F.lit(until_ms)))
    return _rows_where(mapped, keep, "seq", "ts", "labels", "values")


def errors_of(mapped: DataFrame) -> DataFrame:
    """The ``-v`` mapping errors of ``map_entries`` → DF[line_no, error]."""
    error = F.col("error")
    return _rows_where(mapped, error.isNotNull(), F.col("seq").alias("line_no"), error)


def ts_fallback_needed(entries: DataFrame, mapper: Mapper) -> bool:
    """Whether the pandas timestamp fallback can change the output: some
    entry's first failing field is a no-format ``ts`` the JVM half of the
    cascade leaves NULL. An entry that failed an earlier field is dropped
    with that field's message either way. One JVM-only aggregate (a
    map-stage and a result job under AQE); False, with no job, when the
    mapper has no such field. An aggregate, not ``filter(...).limit(1)``:
    ``limit`` scans the partitions in serial rounds."""
    if not mapper.guesses_ts:
        return False
    mapped = map_entries(entries, mapper, ts_fallback=False)
    return bool(mapped.select(F.bool_or(F.col("error") == _GUESS_ERR)).first()[0])


# ---------------------------------------------------------------------------
# records → samples (the unpivot / fan-out)
# ---------------------------------------------------------------------------


def samples_from_records(records: DataFrame) -> DataFrame:
    """Record → sample fan-out (reference: src/query/sample.rs:75-113):
    one sample per value entry plus the synthetic ``__line__`` metric;
    records without a timestamp are silently dropped (sample.rs:88)."""
    with_line = records.filter(F.col("ts").isNotNull()).select(
        "seq",
        "ts",
        "labels",
        F.map_concat(
            F.map_filter(F.col("values"), lambda k, _: k != F.lit(LINE_METRIC)),
            F.create_map(F.lit(LINE_METRIC), F.col("seq").cast("double")),
        ).alias("values"),
    )
    exploded = with_line.select(
        "seq", "ts", "labels", F.explode("values").alias("name", "value")
    )
    return exploded.select(
        "seq",
        "ts",
        "name",
        F.map_concat(
            F.map_filter(F.col("labels"), lambda k, _: k != F.lit(NAME_LABEL)),
            F.create_map(F.lit(NAME_LABEL), F.col("name")),
        ).alias("labels"),
        "value",
    )


def _table_base(
    df: DataFrame,
    ts_col: str,
    value_cols: list[str],
    label_cols: list[str],
    seq_col: str | None,
    ts_unit: str,
) -> DataFrame:
    """Shared typed projection for table ingest: (seq, ts, labels…, values…)
    with nulls-after-cast semantics identical between ``samples_from_table``
    and ``series_dim_for_table`` (the dim fast path must see exactly the
    rows the union branches would keep)."""
    ts = F.unix_millis(F.col(ts_col)) if ts_unit == "timestamp" else F.col(ts_col).cast("long")
    seq = F.col(seq_col).cast("long") if seq_col else F.monotonically_increasing_id()
    return df.select(
        seq.alias("seq"),
        ts.alias("ts"),
        *[F.col(c).cast("string").alias(c) for c in label_cols],
        *[F.col(c).cast("double").alias(c) for c in value_cols],
    ).filter(F.col("ts").isNotNull())


def _table_series(label_cols: list[str], name: Column) -> tuple[Column, Column]:
    """The label map and the signature of the table-ingest series ``name``
    over the label columns: ``samples_from_table`` keys its rows and
    ``series_dim_for_table`` its dim rows with these same two expressions."""
    labels = F.map_concat(
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in label_cols]),
            F.array(*[F.col(c) for c in label_cols]),
        )
        if label_cols
        else empty_map(),
        F.create_map(F.lit(NAME_LABEL), name),
    )
    sig = static_sig_expr({NAME_LABEL: name, **{c: F.col(c) for c in label_cols}})
    return labels, sig


def series_dim_for_table(
    df: DataFrame,
    ts_col: str,
    value_cols: list[str],
    label_cols: list[str],
    seq_col: str | None = None,
    ts_unit: str = "timestamp",
    with_line_metric: bool = True,
) -> DataFrame:
    """Series dim (skey, sig, name, labels) of ``samples_from_table(df, …)``
    WITHOUT scanning the (rows × metrics) sample union: one narrow
    aggregate over the base rows collapses to the distinct label combos
    (map-side combine makes the shuffle dim-sized), then the per-metric dim
    rows are built on the tiny result. Equivalence contract: a (labels,
    metric) series exists iff ≥1 base row has that label combo and a
    non-null value for the metric (the union branch's ``value.isNotNull()``
    filter); ``__line__``'s value is ``seq``, so its presence flag is
    ``seq IS NOT NULL``. The rows equal ``tiers.series_dim`` of the
    samples, and the sig is the samples' ``_sig`` expression, so fact and
    dim keys come from one ``series_key(static_sig_expr(…))``.
    """
    base = _table_base(df, ts_col, value_cols, label_cols, seq_col, ts_unit)
    flag_cols = list(value_cols) + (["seq"] if with_line_metric else [])
    combos = base.groupBy(*label_cols).agg(
        *[F.max(F.col(c).isNotNull()).alias(f"_has_{c}") for c in flag_cols]
    )
    metrics = [(m, f"_has_{m}") for m in value_cols]
    if with_line_metric:
        metrics.append((LINE_METRIC, "_has_seq"))

    def part(name: str, flag: str) -> DataFrame:
        labels, sig = _table_series(label_cols, F.lit(name))
        return combos.filter(F.col(flag)).select(
            series_key(sig).alias("skey"), sig.alias("sig"),
            F.lit(name).alias("name"), labels.alias("labels"),
        )

    return reduce(DataFrame.unionByName, [part(m, flag) for m, flag in metrics])


def samples_from_table(
    df: DataFrame,
    ts_col: str,
    value_cols: list[str],
    label_cols: list[str],
    seq_col: str | None = None,
    ts_unit: str = "timestamp",
    with_line_metric: bool = True,
) -> DataFrame:
    """Scale-path ingest: a columnar table → samples, no decoding.

    This is how the north-rule corpus enters the engine: e.g. the page table
    ``(url, warc_ts, html, text, lang)`` maps to labels {lang, domain},
    values {text_len, content_len} with ``ts = warc_ts`` in ms. Pure
    column expressions — fully prunable/pushable by Catalyst.

    ts_unit: 'timestamp' (native timestamp col) | 'ms' (already epoch ms).
    """
    base = _table_base(df, ts_col, value_cols, label_cols, seq_col, ts_unit)

    # unpivot as a UNION ALL of literal-named branches instead of stack():
    # a metric-name selector (filter name = '<m>') constant-folds each
    # branch's predicate, so Catalyst prunes the non-selected branches AND
    # their scans — a single-metric query reads ONE value column with no
    # Generate/Expand node. Trade-off: a query touching k metrics plans k
    # column-pruned scans of the source instead of one wide scan; pq
    # queries select one metric per selector, so pruning wins.
    def _branch(name_lit: str, value_col: Column) -> DataFrame:
        return base.select(
            "seq",
            "ts",
            *label_cols,
            F.lit(name_lit).alias("name"),
            value_col.alias("value"),
        ).filter(F.col("value").isNotNull())

    branches = [_branch(m, F.col(m).cast("double")) for m in value_cols]
    if with_line_metric:
        branches.append(_branch(LINE_METRIC, F.col("seq").cast("double")))
    unpivoted = reduce(DataFrame.unionByName, branches)

    label_map, sig = _table_series(label_cols, F.col("name"))
    # keep the raw label columns as `_lbl_<name>` passthroughs: label
    # matchers filter on plain columns instead of map lookups, so Catalyst
    # can push them into the parquet/Iceberg scan (partition pruning on
    # e.g. lang/domain) — the map column exists for generic label access
    return unpivoted.select(
        "seq", "ts", "name", label_map.alias("labels"), "value",
        *[F.col(c).alias(f"_lbl_{c}") for c in label_cols],
        # precomputed series signature: keys are static here, so the sig is
        # a plain concat — consumers that key rows by series (the rollup
        # pipeline's fact projection) use it instead of re-deriving
        # sig_expr(labels) per row (map build + sort + transform)
        sig.alias("_sig"),
    )
