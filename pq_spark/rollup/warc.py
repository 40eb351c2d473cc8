"""WARC (ISO 28500) ingest for Common-Crawl-style page corpora.

The north rule's page table ``(url, warc_ts, html, …)`` is DERIVED from
web-archive captures; this module supplies the upstream step: read real
``.warc`` / ``.warc.gz`` files into that table, and write the table back
out as spec-shaped WARC for round-trip testing.

Scale model (how Common Crawl is actually processed): gzip members are
not splittable, so the FILE is the parallelism unit — a crawl ships
~100k files of ~1 GB and a cluster maps one (or a few) files per task.
``read_warc`` uses Spark's ``binaryFile`` source (one row per file) and
parses records inside ``mapInPandas``; Python-side parsing is the decode
path (same category as the JSON/regex decoders — not expressible in
Spark builtins), Arrow-batched, and bounded by file size.

Record shape written/read here::

    WARC/1.0\r\n
    WARC-Type: response\r\n
    WARC-Record-ID: <urn:uuid:...>\r\n
    WARC-Date: 2023-11-14T12:00:00.123456Z\r\n
    WARC-Target-URI: https://...\r\n
    Content-Type: text/html\r\n
    Content-Length: N\r\n
    \r\n
    <N-byte block>\r\n\r\n

Real Common-Crawl response records wrap an HTTP response (status line +
headers) around the html; ``http_payload=True`` strips that envelope at
the marked seam. Multi-member gzip (one member per record, the CC
convention) decompresses transparently.
"""

from __future__ import annotations

import gzip
import hashlib
import os
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"

WARC_PAGE_SCHEMA = "url string, warc_ts timestamp, html binary"


def _format_warc_date(ts) -> str:
    # microsecond-resolution WARC-Date (WARC 1.1 allows subseconds) so the
    # page table's millisecond timestamps round-trip exactly
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _parse_warc_date(s: str):
    fmt = "%Y-%m-%dT%H:%M:%S.%fZ" if "." in s else "%Y-%m-%dT%H:%M:%SZ"
    return datetime.strptime(s, fmt).replace(tzinfo=timezone.utc)


def _record_bytes(url: str, ts, html: bytes) -> bytes:
    # ISO 28500 requires GLOBALLY unique record IDs: recrawls of the same
    # URL (supported — see test_warc_recrawl_duplicates) are distinct
    # captures, so the ID covers (url, capture time, content), not url alone
    rid = hashlib.md5(
        url.encode() + _format_warc_date(ts).encode() + hashlib.md5(html).digest()
    ).hexdigest()
    head = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + f"WARC-Record-ID: <urn:uuid:{rid}>\r\n".encode()
        + f"WARC-Date: {_format_warc_date(ts)}\r\n".encode()
        + f"WARC-Target-URI: {url}\r\n".encode()
        + b"Content-Type: text/html\r\n"
        + f"Content-Length: {len(html)}\r\n".encode()
        + _CRLF
    )
    return head + html + _CRLF + _CRLF


def write_warc(pages: DataFrame, out_dir: str) -> None:
    """Write (url, warc_ts, html) rows as one ``part-NNNNN.warc.gz``
    file per partition (executor-side sequential writes — the same
    one-file-per-task shape a Hadoop committer produces). Each record is
    its own gzip member, the Common-Crawl convention that keeps records
    individually seekable.

    Arrow-batched (``mapInPandas`` + ``TaskContext.partitionId``): rows
    reach Python as columnar batches, not per-row pickled Rows, and the
    timestamps arrive session-timezone-naive — symmetric with
    ``read_warc``, so the round trip is timezone-stable under the
    package's pinned UTC session regardless of the host OS timezone."""
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        n = 0
        with open(path, "wb") as f:
            for pdf in batches:
                for url, ts, html in zip(
                    pdf["url"], pdf["warc_ts"], pdf["html"]
                ):
                    rec = _record_bytes(url, ts, bytes(html))
                    f.write(gzip.compress(rec))
                    n += 1
        yield pd.DataFrame({"n": [n]})

    # every partition creates its file (empty ones too) so the directory
    # layout is deterministic
    pages.select("url", "warc_ts", "html").mapInPandas(
        write_partition, "n long"
    ).count()


def _parse_records(data: bytes, http_payload: bool):
    """Record scanner, resilient to damaged archives: a record with a
    missing/garbled Content-Length or WARC-Date is SKIPPED (scan resumes
    after its header) rather than crashing the ingest task or mis-reading
    body bytes that happen to contain the text 'WARC/'."""
    pos = 0
    while True:
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        hdr_end = data.find(_HDR_END, start)
        if hdr_end < 0:
            return
        headers = {}
        for line in data[start:hdr_end].split(_CRLF)[1:]:
            k, _, v = line.decode("utf-8", "replace").partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
            if length < 0:
                raise ValueError
        except (KeyError, ValueError):
            # unknown body extent — skip this record's header and rescan
            pos = hdr_end + len(_HDR_END)
            continue
        body_start = hdr_end + len(_HDR_END)
        block = data[body_start : body_start + length]
        pos = body_start + length
        if headers.get("warc-type") == "response":
            if http_payload:
                # real CC response records wrap an HTTP response — the
                # payload starts after the HTTP header envelope
                i = block.find(_HDR_END)
                if i >= 0:
                    block = block[i + len(_HDR_END) :]
            uri = headers.get("warc-target-uri")
            date = headers.get("warc-date")
            if uri and date:
                try:
                    ts = _parse_warc_date(date)
                except ValueError:
                    continue  # garbled date — skip the record
                yield uri, ts, block


def read_warc(
    spark: SparkSession, path_glob: str, http_payload: bool = False
) -> DataFrame:
    """``.warc`` / ``.warc.gz`` files → (url, warc_ts, html) page rows.

    One input row per FILE (``binaryFile`` source) — the honest
    parallelism unit for gzip archives; repartition upstream by adding
    files, not by splitting them."""
    files = spark.read.format("binaryFile").load(path_glob)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, tss, htmls = [], [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if path.endswith(".gz"):
                    data = gzip.decompress(data)  # multi-member OK
                for url, ts, html in _parse_records(data, http_payload):
                    urls.append(url)
                    tss.append(ts.replace(tzinfo=None))
                    htmls.append(html)
            yield pd.DataFrame({"url": urls, "warc_ts": tss, "html": htmls})

    return files.select("path", "content").mapInPandas(parse, WARC_PAGE_SCHEMA)
