"""The one memo for results that several registry queries share.

A shared result (the trained BPE model, the learned IVF centroids, the
near-dup canonical table, a materialized fixture corpus, a replica
oracle) is built by the first consumer that asks and reused by the rest,
so a verify or bench pass pays for it once.

Two scopes:

- process-scoped (no ``spark``): values that outlive a session, such as
  parquet paths and oracle SQL text;
- session-scoped (``spark`` given): values bound to one SparkSession,
  such as localCheckpointed DataFrames. The key is prefixed by the
  SparkContext's application id and start time, never ``id(spark)``: a
  stopped session's id can be reused by a new one, and a hit would hand
  back blocks of a dead context.

Not ``functools.cache``: process-scoped build functions that take ``spark``
would then be keyed on the session and rebuilt per session.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import Any

_MEMO: dict = {}


def memo(key: Hashable, build: Callable[[], Any], spark=None) -> Any:
    """Return the value memoized under ``key``, calling ``build()`` on the
    first request. Keys of different memos must differ: lead each key
    with the memo's name. A ``build`` that raises memoizes nothing."""
    if spark is not None:
        sc = spark.sparkContext
        key = (sc.applicationId, sc.startTime, key)
    if key not in _MEMO:
        _MEMO[key] = build()
    return _MEMO[key]
