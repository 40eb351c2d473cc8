"""Output formatters — byte-parity with the reference.

``to_promapi`` (reference: src/format/promapi.rs) is the golden-output
format: one JSON line per grid instant. The heavy lifting (metric-JSON
rendering, per-instant grouping, ordering) happens JVM-side; only the final
small per-instant rows are collected, where Python applies the Rust float
formatting (``rust_f64_str`` / ``json_f64_str``).

``to_json`` (reference: src/format/json.rs) renders entries/records as
sorted-key JSON objects and delegates query values to the promapi format.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F

from ..errors import MatchingError
from ..floatfmt import json_f64_str, rust_f64_str
from ..query.ast import NAME_LABEL
from .frames import Check, RangeFrame, ScalarResult, VectorFrame


def _run_checks(checks: list[Check]) -> None:
    """Evaluate every strict-mode check in ONE Spark job: the per-check
    relations are limit(1)-truncated, tagged with their index, and
    unioned — a deep binary expression pays one extra job total instead of
    two per operator. The FIRST violated check (list order) raises, same
    as the sequential evaluation did."""
    if not checks:
        return
    if len(checks) == 1:
        if checks[0].df.limit(1).count() > 0:
            raise MatchingError(checks[0].message)
        return
    u = None
    for i, c in enumerate(checks):
        part = c.df.limit(1).select(F.lit(i).alias("_ck"))
        u = part if u is None else u.unionByName(part)
    try:
        hit = [r["_ck"] for r in u.collect()]
    except Exception:
        # a later check's branch failed at runtime inside the union — fall
        # back to sequential evaluation so an earlier VIOLATED check still
        # raises its reference message first, like the lazy reference would
        for c in checks:
            if c.df.limit(1).count() > 0:
                raise MatchingError(c.message)
        raise
    if hit:
        raise MatchingError(checks[min(hit)].message)


def _metric_json_col() -> F.Column:
    # sorted label keys, JVM-side JSON escaping (serde_json parity: compact,
    # UTF-8, standard control escapes)
    return F.to_json(F.map_from_entries(F.array_sort(F.map_entries(F.col("labels")))))


def promapi_lines(result) -> list[str]:
    """Serialize a query result to promapi JSON lines (one per instant)."""
    if isinstance(result, ScalarResult):
        # scalar ts hardcoded 0.0 and emitted exactly once
        # (promapi.rs:114-121, evaluator.rs:58-68 drain hack)
        return [
            '{"resultType":"scalar","result":[0.0,"%s"]}' % rust_f64_str(result.value)
        ]

    _run_checks(result.checks)

    if isinstance(result, VectorFrame):
        cells = result.cells.withColumn("_mj", _metric_json_col())
        rows = (
            result.grid.join(cells, "instant", "left")
            .groupBy("instant")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("ord").isNotNull(),
                            F.struct("ord", "_mj", "value"),
                        )
                    )
                ).alias("items")
            )
            .orderBy("instant")
            .collect()
        )
        lines = []
        for row in rows:
            ts_str = json_f64_str(row["instant"] / 1000.0)
            items = ",".join(
                '{"metric":%s,"value":[%s,"%s"]}'
                % (it["_mj"], ts_str, rust_f64_str(it["value"]))
                for it in row["items"]
            )
            lines.append('{"resultType":"vector","result":[%s]}' % items)
        return lines

    if isinstance(result, RangeFrame):
        # narrow aggregation (packed _okey keeps it in HashAggregate); the
        # series dim joins back broadcast-style after the per-window collect
        per_series = (
            result.facts.groupBy("instant", "skey")
            .agg(
                F.sort_array(F.collect_list(F.struct("_okey", "ts", "value"))).alias("_pts"),
            )
            .join(F.broadcast(result.dim), "skey")
            .withColumn("_mj", _metric_json_col())
        )
        rows = (
            result.grid.join(per_series, "instant", "left")
            .groupBy("instant")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("ord").isNotNull(),
                            F.struct("ord", "_mj", "_pts"),
                        )
                    )
                ).alias("items")
            )
            .orderBy("instant")
            .collect()
        )
        lines = []
        for row in rows:
            items = []
            for it in row["items"]:
                values = ",".join(
                    '[%s,"%s"]' % (json_f64_str(p["ts"] / 1000.0), rust_f64_str(p["value"]))
                    for p in it["_pts"]
                )
                items.append('{"metric":%s,"values":[%s]}' % (it["_mj"], values))
            lines.append('{"resultType":"matrix","result":[%s]}' % ",".join(items))
        return lines

    raise TypeError(f"cannot format {type(result)}")


# ---------------------------------------------------------------------------
# entry/record formatters (decoder-only and mapper-only programs)
# ---------------------------------------------------------------------------


def entries_json_lines(entries: DataFrame, verbose: bool = False) -> list[str]:
    """JSON formatter for decoder-only programs (reference:
    src/format/json.rs:48-67): tuple entries render as a JSON array; dict
    entries as an object (we emit sorted keys — the reference serializes a
    HashMap whose order is arbitrary, so sorted is the deterministic
    choice). Verbose wraps them as ``{"line": N, "data": ...}``
    (TupleEntryRepr/DictEntryRepr, json.rs:13-23)."""
    rows = entries.orderBy("line_no").collect()
    out = []
    for r in rows:
        if r["arr"] is not None:
            data = list(r["arr"])
        else:
            data = dict(sorted(r["map"].items()))
        obj = {"line": r["line_no"], "data": data} if verbose else data
        out.append(json.dumps(obj, separators=(",", ":"), ensure_ascii=False))
    return out


def records_json_lines(records: DataFrame, verbose: bool = False) -> list[str]:
    """JSON formatter for mapper-only programs (reference:
    src/format/json.rs:25-33,69-83): ``{"timestamp": ms?, "labels": {...},
    "values": {...}}`` with sorted inner keys; timestamp omitted if the
    record has none; verbose prepends the ``line`` field (RecordRepr)."""
    rows = records.orderBy("seq").collect()
    out = []
    for r in rows:
        obj: dict = {}
        if verbose:
            obj["line"] = r["seq"]
        if r["ts"] is not None:
            obj["timestamp"] = r["ts"]
        obj["labels"] = dict(sorted((r["labels"] or {}).items()))
        obj["values"] = dict(sorted((r["values"] or {}).items()))
        out.append(json.dumps(obj, separators=(",", ":"), ensure_ascii=False))
    return out


# ---------------------------------------------------------------------------
# human-readable formatter (the default when no formatter stage is given;
# reference: src/format/humanreadable.rs)
# ---------------------------------------------------------------------------


def _ts_human(ts_ms: int) -> str:
    """``to_string_millis`` parity — NOTE the reference floors to seconds
    and always prints ``.000`` (timestamp.rs:33-36)."""
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(ts_ms // 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + ".000"


def _dict_human(d: dict, sep: str) -> str:
    return sep.join(f"{k}={v}" for k, v in sorted(d.items()))


def entries_human_lines(entries: DataFrame, verbose: bool = False) -> list[str]:
    rows = entries.orderBy("line_no").collect()
    out = []
    for r in rows:
        body = (
            "\t".join(r["arr"]) if r["arr"] is not None
            else _dict_human(dict(r["map"]), "\t")
        )
        # verbose prefixes the 1-based line number (humanreadable.rs:24-38)
        out.append(f"{r['line_no']}: {body}" if verbose else body)
    return out


def records_human_lines(records: DataFrame, verbose: bool = False) -> list[str]:
    rows = records.orderBy("seq").collect()
    out = []
    for r in rows:
        parts = []
        if r["ts"] is not None:
            parts.append(_ts_human(r["ts"]))
        if r["labels"]:
            parts.append(_dict_human(dict(r["labels"]), "\t"))
        if r["values"]:
            parts.append(
                _dict_human({k: rust_f64_str(v) for k, v in r["values"].items()}, "\t")
            )
        body = "\t".join(parts)
        out.append(f"{r['seq']}: {body}" if verbose else body)
    return out


def promhuman_lines(result, verbose: bool = False) -> list[str]:
    """Human formatter for query values (humanreadable.rs:70-177).
    Non-verbose: empty vectors produce NO output line; verbose prints
    ``<ts> <no data>`` for them (humanreadable.rs:88-97,153-160)."""
    if isinstance(result, ScalarResult):
        return [rust_f64_str(result.value)]
    _run_checks(result.checks)

    lines: list[str] = []

    def no_data_lines(populated_instants) -> list[tuple[int, str]]:
        if not verbose:
            return []
        return [
            (r["instant"], _ts_human(r["instant"]) + " <no data>")
            for r in result.grid.orderBy("instant").collect()
            if r["instant"] not in populated_instants
        ]

    if isinstance(result, VectorFrame):
        rows = result.cells.orderBy("instant", "ord").collect()
        keyed: list[tuple[int, str]] = []
        for r in rows:
            labels = dict(r["labels"])
            name = labels.pop(NAME_LABEL, None)
            parts = [_ts_human(r["instant"]) + "\t"]
            if name is not None:
                parts.append(name)
            if labels or name is not None:
                parts.append("{%s}\t\t\t" % _dict_human(labels, ", "))
            parts.append(rust_f64_str(r["value"]))
            keyed.append((r["instant"], "".join(parts)))
        keyed += no_data_lines({i for i, _ in keyed})
        return [s for _, s in sorted(keyed, key=lambda t: t[0])] if verbose else [
            s for _, s in keyed
        ]

    if isinstance(result, RangeFrame):
        per_series = (
            result.facts.groupBy("instant", "skey")
            .agg(
                F.sort_array(F.collect_list(F.struct("_okey", "ts", "value"))).alias("_pts"),
            )
            .join(F.broadcast(result.dim), "skey")
            .orderBy("instant", "ord")
            .collect()
        )
        keyed = []
        for r in per_series:
            labels = dict(r["labels"])
            name = labels.pop(NAME_LABEL, None)
            parts = [_ts_human(r["instant"]) + "\t"]
            if name is not None:
                parts.append(name)
            if labels or name is not None:
                parts.append("{%s}\t\t\t" % _dict_human(labels, ", "))
            chunk = ["".join(parts)]
            for p in r["_pts"]:
                chunk.append("\t%s @ %s" % (rust_f64_str(p["value"]), _ts_human(p["ts"])))
            keyed.append((r["instant"], chunk))
        keyed += [(i, [s]) for i, s in no_data_lines({i for i, _ in keyed})]
        ordered = sorted(keyed, key=lambda t: t[0]) if verbose else keyed
        return [line for _, chunk in ordered for line in chunk]

    raise TypeError(f"cannot format {type(result)}")


def _render_interactive_frame(instant: int, rows: list) -> str:
    """One ``-i`` screen-refresh block — ESC[2J ESC[1;1H, the timestamp,
    a dash, then one label-dump line per sample
    (humanreadable.rs:103-130)."""
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(instant // 1000, tz=timezone.utc)
    lines = ["\x1b[2J\x1b[1;1H", ts.strftime("%Y-%m-%d %H:%M:%S"), "-"]
    prefix = ""
    for r in rows:
        labels = dict(r["labels"])
        name = labels.get(NAME_LABEL)
        if name is not None:
            lines.append(name)
            lines.append("\n")
            prefix = "\t"
        line = [f"{prefix}{k}: '{v}'" for k, v in sorted(labels.items())]
        line.append("\t\t\t%s" % rust_f64_str(r["value"]))
        lines.append("\t\t".join(line))
    return "\n".join(lines)


def prominteractive_frames(result):
    """Generator over ``-i`` frames: yields each instant's screen-refresh
    block AS SOON as that instant's cells have streamed back to the
    driver. The grid (instants only) is tiny and collected up front; the
    cells stream through ``toLocalIterator`` on the instant-sorted plan,
    which fetches one partition at a time — on a live terminal the first
    frame renders while later partitions are still in flight, the
    distributed analogue of the reference's redraw-as-the-stream-arrives
    loop (humanreadable.rs:103-130, runner.rs:57). Instant vectors only;
    the reference panics with unimplemented!() otherwise
    (humanreadable.rs:181-189)."""
    from ..errors import PqError

    if not isinstance(result, VectorFrame):
        raise PqError("interactive mode is not supported for this type of result")
    _run_checks(result.checks)

    instants = [r["instant"] for r in result.grid.orderBy("instant").collect()]
    it = result.cells.orderBy("instant", "ord").toLocalIterator()
    cur = next(it, None)
    for instant in instants:
        rows = []
        while cur is not None and cur["instant"] <= instant:
            if cur["instant"] == instant:
                rows.append(cur)
            cur = next(it, None)
        yield _render_interactive_frame(instant, rows)


def prominteractive_lines(result) -> list[str]:
    """Batch form of ``prominteractive_frames`` (golden/pytest harness):
    the full frame sequence as a list."""
    return list(prominteractive_frames(result))
