"""``python -m pq_spark 'PROGRAM' [flags] < log.txt`` — the reference
CLI surface (reference: src/main.rs, src/cliopt.rs) over a local
SparkSession.

Lines stream from stdin with the reference's early termination at
``--until`` (an unbounded pipe ends once the stream passes the range
end — runner.consume_stream_lines); ``-i`` redraws the terminal in
place per grid instant as each instant's cells arrive
(runner.run_cli_live). Everything else prints the same byte stream the
golden harness pins via run_cli.

Parallelism comes from ``SPARK_GRAFT_CPUS`` (default ``*``); the bulk
path for archived logs is a parquet table (ingest.samples_from_table),
not this pipe.
"""

from __future__ import annotations

import os
import sys


def main(argv: list[str] | None = None, stdin=None, out=None) -> int:
    from .engine.runner import parse_cli_args
    from .errors import PqError

    argv = ["pq"] + (sys.argv[1:] if argv is None else list(argv))
    try:
        o = parse_cli_args(argv)  # fail fast, before paying for the JVM
    except PqError as e:
        print(f"pq: {e}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from .engine.runner import (
        configure_session, run_cli_live, run_cli_stream,
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pq-spark")
        .getOrCreate()
    )
    configure_session(spark)

    stdin = stdin if stdin is not None else sys.stdin
    lines = (ln.rstrip("\n") for ln in stdin)
    try:
        if o.interactive:
            run_cli_live(spark, argv, lines, out=out)
        else:
            buf = run_cli_stream(spark, argv, lines)
            target = out if out is not None else sys.stdout.buffer
            target.write(buf)
            target.flush()
    except PqError as e:
        print(f"pq: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
