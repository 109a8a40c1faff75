"""Long-lived serving handle that follows index rotation.

The reference's realtime readers hold a ZK node cache on the rotation
alias and transparently start hitting the rebuilt index when the
nightly pipeline swaps it in
(ElasticsearchIndexRotationManagerZookeeper.java:120-139 feeding
RealtimeIndexSelectionStrategyLagged). ``ServingIndex`` is that
reader: it wraps (registry, alias) and delegates every query-surface
call to an ``FTSIndex`` handle over the alias's CURRENT root,
re-resolving the handle when — and only when — the alias pointer
moves. The probe is ONE os.stat per call (inode change token, see
``rotation.AliasWatch``), so steady-state overhead is ~a microsecond
on top of the zero-Spark-job local query path; no background threads,
no re-opening the registry, no restart.

Swap semantics mirror the node cache exactly:

- Index roots are immutable snapshots, so the old handle stays valid
  for any caller mid-iteration; the swap only changes which handle the
  NEXT call sees.
- A deleted/unreadable alias pointer keeps the last good handle
  serving (the cache keeps its last value); a watch that never
  resolved any version raises on first use instead of guessing.
- Each new handle starts with cold term/postings LRU caches; the old
  generation's caches are dropped with its handle.
"""
from __future__ import annotations

from pyspark.sql import SparkSession

from .query import FTSIndex
from .rotation import RotationRegistry

# Every public method of FTSIndex is forwarded. An allowlist derived
# from the class (not a blanket __getattr__ passthrough of anything),
# so a typo'd method name still raises AttributeError naming
# ServingIndex.
_FORWARDED = frozenset(
    name for name in dir(FTSIndex)
    if not name.startswith("_") and callable(getattr(FTSIndex, name)))


class ServingIndex:
    """Rotation-following FTSIndex facade: ``ServingIndex(spark,
    registry, alias)`` then call any FTSIndex query method on it."""

    def __init__(self, spark: SparkSession, registry: RotationRegistry,
                 alias: str):
        self._spark = spark
        self._watch = registry.watch(alias)
        self._alias = alias
        self._handle: FTSIndex | None = None
        cur = self._watch.value()
        if cur is not None:
            self._handle = FTSIndex(spark, cur["root"])

    @property
    def current_root(self) -> str | None:
        """Root the NEXT call will serve from (after a fresh probe)."""
        self._refresh()
        return self._handle.root if self._handle is not None else None

    def _refresh(self) -> None:
        cur = self._watch.poll()
        if cur is not None and (self._handle is None
                                or cur["root"] != self._handle.root):
            # Version rows are only swappable in COMPLETE state
            # (RotationRegistry.swap refuses otherwise), so any row the
            # pointer reaches is servable.
            self._handle = FTSIndex(self._spark, cur["root"])

    def handle(self) -> FTSIndex:
        """The current underlying FTSIndex (probes first). Callers that
        need a STABLE snapshot across several calls should grab this
        once and use it directly — it never mutates."""
        self._refresh()
        if self._handle is None:
            raise ValueError(
                f"alias {self._alias!r} has no current version yet "
                "(register + swap one, or check the registry path)")
        return self._handle

    def __getattr__(self, name: str):
        if name in _FORWARDED:
            return getattr(self.handle(), name)
        raise AttributeError(
            f"ServingIndex has no attribute {name!r} (forwards "
            f"{sorted(_FORWARDED)})")
