"""Prepared frames: frames derived from a source snapshot, persisted once
and reused by every later call on that snapshot.

Two operators keep them: the radius join's point half
(`radius_join._prepared_points`, lazy, filled by the first join that
reads it) and the point x polygon family's dim-side cover and ring
frames (`spatial_join.polygon_cover`, materialized at call time so the
planner sees their real sizes).  Both go through `prepared`, so both
share one key scheme and one LRU bound.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from concurrent.futures import Future

from pyspark.sql import DataFrame

# prepared entries kept per session, least recently used first
PREPARED_MAX = 4
_PREPARED: OrderedDict = OrderedDict()
_PREPARED_LOCK = threading.Lock()


def _release(entry) -> None:
    """Unpersist an entry's frames once its build has finished."""
    def drop(done: Future) -> None:
        if done.exception() is None:
            for v in done.result():
                if isinstance(v, DataFrame):
                    v.unpersist()

    entry[2].add_done_callback(drop)


def prepared(source: DataFrame, params: tuple, build) -> tuple:
    """The tuple `build()` returned for an earlier call on the same
    snapshot and `params`, or `build()`'s new one.  `build` returns
    persisted frames and any small driver-side values their users need
    with them; the frames are unpersisted when the entry leaves.

    Keyed on the session, the source plan (`semanticHash`, confirmed with
    `sameSemantics`, as the hash is 32 bits), the files the plan reads and
    `params`.  The files matter because a re-saved snapshot lists new part
    files under the same path, and Spark's cache matches the two loads as
    one plan: a miss on the files alone replaces the stale entry instead
    of caching beside it.  The registry lock covers the lookup and the
    update only; a miss builds outside it, and concurrent callers of the
    same key wait on that one build (a future) instead of racing, while
    callers of other keys go on.  At most PREPARED_MAX entries stay; the
    least recently used one is unpersisted."""
    app = source.sparkSession.sparkContext.applicationId
    key = (app, source.semanticHash(), *params)
    files = sorted(source.inputFiles())
    stale = []
    with _PREPARED_LOCK:
        for k in [k for k in _PREPARED if k[0] != app]:
            del _PREPARED[k]  # a stopped session's cache went with it
        entry = _PREPARED.pop(key, None)
        mine = (entry is None or entry[1] != files
                or not entry[0].sameSemantics(source))
        if mine:
            if entry is not None:
                stale.append(entry)
            entry = (source, files, Future())
        _PREPARED[key] = entry
        while len(_PREPARED) > PREPARED_MAX:
            stale.append(_PREPARED.popitem(last=False)[1])
    for old in stale:
        _release(old)
    if mine:
        try:
            entry[2].set_result(tuple(build()))
        except BaseException as exc:
            with _PREPARED_LOCK:
                if _PREPARED.get(key) is entry:
                    del _PREPARED[key]
            entry[2].set_exception(exc)
            raise
    return entry[2].result()
