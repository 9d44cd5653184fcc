"""Cache pins: the one module that persists or frees a frame.

- :func:`pin` — an operator-level cache site's newest generation. The
  site keeps at most ``keep`` generations per application; the next pin
  at the site releases the oldest. For frames a RETURNED lazy plan still
  reads (the operator cannot know when its caller is done with them).
- :func:`hold` — a call-scoped pin the calling code frees itself with
  :func:`release` once its own actions are done.
- :func:`release` — frees a held or pinned frame, or the internal RDD of
  a ``checkpoint()``/``localCheckpoint()`` Dataset.

Every pin is a lineage-preserving ``MEMORY_AND_DISK`` persist, so freeing
a frame under a concurrent in-flight consumer degrades to recompute,
never to failure. Lineage-truncating checkpoints stay at the loops that
need them (connected_components, the BPE trainers, kcenter_coreset); only
their freeing comes through here.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()
#: (application id, site) -> [(semanticHash, frame)], oldest first
_GENERATIONS: dict[tuple[str, str], list[tuple[int, DataFrame]]] = {}


def _app_id(df: DataFrame) -> str:
    session = df.sparkSession
    try:
        return session.sparkContext.applicationId
    except Exception:  # noqa: BLE001 — Spark Connect has no SparkContext
        return session.session_id


def pin(df: DataFrame, site: str, keep: int = 1) -> DataFrame:
    """Persist ``df`` as the newest generation of cache site ``site`` and
    release the site's generations beyond the newest ``keep`` (``keep``
    > 1 is for operators called more than once per logical build: bm25
    builds per-half shard indexes one merged query reads together).

    The registry is keyed by the application id, which is never reused;
    entries of any other (stopped) application are dropped here. A
    released frame plan-identical (``sameSemantics``) to a kept frame of
    ANY site shares its CacheManager entry, so it is not unpersisted —
    e.g. pagerank's and hits' edge frames on one input. The guard runs
    under the lock, against one ``semanticHash`` per pin."""
    app = _app_id(df)
    with _LOCK:
        for key in [k for k in _GENERATIONS if k[0] != app]:
            del _GENERATIONS[key]
        pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
        gens = _GENERATIONS.setdefault((app, site), [])
        gens.append((pinned.semanticHash(), pinned))
        excess = gens[:-keep]
        del gens[:-keep]
        for h, prev in excess:
            try:
                if not any(
                    h == kh and prev.sameSemantics(kept)
                    for kept_gens in _GENERATIONS.values()
                    for kh, kept in kept_gens
                ):
                    prev.unpersist(False)
            except Exception:  # noqa: BLE001 — a dead session's frame etc.
                pass
    return pinned


def hold(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the calling code's own actions; the caller
    frees it with :func:`release`. Not registered as a generation."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def checkpointed_rdd_ids(df: DataFrame) -> set[int]:
    """The id of the internal RDD a ``checkpoint()``/``localCheckpoint()``
    Dataset persisted, read off its LogicalRDD; empty for any other frame
    and under Spark Connect.

    This is how a loop frees its own superseded round checkpoints on a
    shared session. Never diff the session-global ``getPersistentRDDs()``
    around the pin instead: a concurrent thread's lazy checkpoint landing
    between the two snapshots would be freed, resetting its storage level
    so its later materialization fails ("Storage level ... is not
    appropriate for local checkpointing")."""
    try:
        return {int(df._jdf.queryExecution().analyzed().rdd().id())}  # noqa: SLF001
    except Exception:  # noqa: BLE001 — best-effort bookkeeping only
        return set()


def release(*dfs: DataFrame) -> None:
    """Free each frame: a persisted frame's persist, a checkpointed
    frame's own internal RDD by id."""
    for df in dfs:
        try:
            if df.is_cached:
                df.unpersist(False)
            elif rdd_ids := checkpointed_rdd_ids(df):
                jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
                for rid in rdd_ids:
                    jrdd = jmap.get(rid)
                    if jrdd is not None:
                        jrdd.unpersist(False)
        except Exception:  # noqa: BLE001 — a dead session's frame etc.
            pass
