"""One owner per cached relation. Spark's CacheManager is session-wide,
is not cleaned on garbage collection and matches a rebuilt plan to an
older cached one, so a cache that outlives its query pins storage and
serves stale rows. Whatever a query persists is released with it; this
is the only module in ``pq_spark`` that persists or unpersists."""

from __future__ import annotations

import functools
import weakref
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_owner: ContextVar[Held | None] = ContextVar("owner", default=None)


class Held:
    """Owner of the relations persisted through it. ``with Held():`` makes
    it the current owner and releases on every way out."""

    def __init__(self) -> None:
        # JVM Datasets, not Python frames: ``owned`` must still see a
        # returned frame collected when the builder persisted that frame
        self._datasets: list = []

    def persist(self, df: DataFrame) -> DataFrame:
        self._datasets.append(df.persist()._jdf)
        return df

    def release(self) -> None:
        datasets, self._datasets = self._datasets, []
        for ds in datasets:
            ds.unpersist(False)

    @contextmanager
    def current(self):
        """Be the current owner for the block; release only if it raises."""
        token = _owner.set(self)
        try:
            yield self
        except BaseException:
            self.release()
            raise
        finally:
            _owner.reset(token)

    def __enter__(self) -> Held:
        self._token = _owner.set(self)
        return self

    def __exit__(self, *exc) -> None:
        _owner.reset(self._token)
        self.release()


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` into the current owner; there must be one."""
    owner = _owner.get()
    if owner is None:
        raise RuntimeError("persist() with no owner: run it under `with Held():`")
    return owner.persist(df)


def owned(build):
    """``build`` with what it persists released when the DataFrame it
    returns is garbage-collected (at once if it raises). Frames derived
    from that result do not keep it alive."""

    @functools.wraps(build)
    def run(*args, **kwargs):
        held = Held()
        with held.current():
            df = build(*args, **kwargs)
        weakref.finalize(df, held.release).atexit = False
        return df

    return run
