"""The one place the package pins DataFrames in Spark's cache.

Every endpoint and operator runs in one long-lived session, so a pin
that outlives its op squeezes execution memory for whatever runs next.
The rule that keeps memory bounded: an op keeps at most one set of
MEMORY_AND_DISK pins (it releases its own owner's pins at entry), and
every registry-query entry (``queries.query``) calls :func:`release`
to drop them all — so each bench/oracle invocation computes from its
parquet inputs and fills its own caches inside the timed region.

Pins are keyed by an owner string (one per op family). No other module
calls ``persist``/``cache``/``unpersist``; ``tests/test_cache_hygiene.py``
guards that, so no pin can escape :func:`release`. Unpinning never
breaks a lazy plan that still reads the frame — it just recomputes.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LEVEL = StorageLevel.MEMORY_AND_DISK
_LOCK = threading.Lock()
#: owner -> live pins, in pin order
_PINS: dict[str, list[DataFrame]] = {}


def pin(df: DataFrame, owner: str) -> DataFrame:
    """Persist ``df`` under ``owner`` and return the pinned frame. If a
    live pin of ``owner`` has the same semantics as ``df``, return that
    pin instead: concurrent trainers over one corpus (q212's two
    k-means threads) then share one cache rather than pinning twice."""
    with _LOCK:
        live = _PINS.setdefault(owner, [])
        for p in live:
            if df.sameSemantics(p):
                return p
        df = df.persist(_LEVEL)
        live.append(df)
        return df


def unpin(df: DataFrame) -> None:
    """Drop one pin (e.g. a superseded iteration generation)."""
    with _LOCK:
        for live in _PINS.values():
            live[:] = [p for p in live if p is not df]
    df.unpersist()


def release(owner: str | None = None, keep: DataFrame | None = None) -> None:
    """Drop every pin of ``owner`` (of every owner when ``None``),
    except ``keep``."""
    dropped: list[DataFrame] = []
    with _LOCK:
        for o in list(_PINS) if owner is None else [owner]:
            live = _PINS.get(o, [])
            dropped += [p for p in live if p is not keep]
            live[:] = [p for p in live if p is keep]
    for p in dropped:
        p.unpersist()
