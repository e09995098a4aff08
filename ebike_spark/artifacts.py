"""Session-scoped artifact store: the one cache of everything this
package derives from a session's fixtures — table frames, the bucketed
fact-table database, registry plans, persisted intermediates, trained
indexes and memoized driver-side results.

Keying rule, shared by every entry:

- Entries belong to the ``SparkSession`` object, held weakly: a
  stopped and collected session takes its entries with it, and a
  session is never identified by ``id()`` (a collected session's id can
  be reused by a new one, which would then be served frames bound to a
  dead session). ``spark.newSession()`` is a different object and sees
  none of its parent's entries.
- Every key carries the result-relevant session confs,
  ``RESULT_CONFS``. A DataFrame is analyzed when it is built, so a
  stored frame carries the conf values of that moment; after a
  mid-session change of the time zone or of ANSI mode a lookup misses
  instead of serving a frame resolved under the old value. These are
  the two confs this package's results depend on (timestamp
  rendering/arithmetic, cast and overflow semantics) and the ones
  ``session.tune_runtime`` resets.
- Within a session the fixture files are treated as immutable, so an
  entry under an equal key computes the same result: the trust model
  of a resident engine's statement cache. Temp-view rebinding is out
  of scope, because stored frames read fixture paths, never temp views.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

RESULT_CONFS = ("spark.sql.session.timeZone", "spark.sql.ansi.enabled")

# session -> (memos {(key, confs) -> value}, persisted {tag -> (key, frame)})
_store: "weakref.WeakKeyDictionary[SparkSession, tuple[dict, dict]]" = weakref.WeakKeyDictionary()


def result_confs(spark: SparkSession) -> tuple:
    """The values of ``RESULT_CONFS`` in ``spark``: the part of every
    key that the session's state contributes."""
    return tuple(spark.conf.get(c, None) for c in RESULT_CONFS)


def memo(
    spark: SparkSession,
    key: Hashable,
    build: Callable[[], Any],
    valid: Callable[[Any], bool] | None = None,
) -> Any:
    """The value stored under ``key`` in ``spark``, calling ``build()``
    on a miss. A stored value for which ``valid`` returns false (say, an
    index whose directory was deleted) is rebuilt."""
    memos, _ = _store.setdefault(spark, ({}, {}))
    full = (key, result_confs(spark))
    if full in memos and (valid is None or valid(memos[full])):
        return memos[full]
    memos[full] = value = build()
    return value


def persisted(
    spark: SparkSession,
    tag: str,
    build: DataFrame | Callable[[], DataFrame],
    key: Hashable | None = None,
) -> DataFrame:
    """A persisted frame under (session, ``tag``). One frame per tag is
    live: replacing it unpersists the previous one, so a long-lived
    session re-running a pipeline holds the last run's cached data,
    not every run's.

    The stored frame is served when it computes the same result:
    - with ``key`` (e.g. the fixture dir), when the stored key and
      confs are equal. ``build`` is then a zero-arg callable invoked
      only on a miss, which matters for wide sketch plans: building and
      canonicalizing the 56-aggregate simhash plan costs ~1 s of driver
      time, more than the cached execution.
    - without ``key``, when the canonicalized analyzed plans are
      ``sameResult``; ``build`` may be the candidate frame itself.
      Analysis embeds conf-dependent state (e.g. ``timeZoneId``) in the
      plans it compares, so no conf key is needed.
    """
    _, frames = _store.setdefault(spark, ({}, {}))
    old = frames.get(tag)  # (key, frame)
    if key is not None:
        key = (key, result_confs(spark))
        if old is not None and old[0] == key:
            return old[1]
    built = build() if callable(build) else build
    if key is None and old is not None:
        if old[1]._jdf.queryExecution().analyzed().sameResult(
            built._jdf.queryExecution().analyzed()
        ):
            return old[1]
    if old is not None:
        old[1].unpersist()
    frames[tag] = (key, built.persist())
    return frames[tag][1]
