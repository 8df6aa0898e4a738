"""The engine's one materialization policy.

Catalyst re-derives a subtree once per reference, so a frame that is read
more than once (split counts, per-class AUC rows, lift/gains ranks, dedup
rounds) runs its whole lineage again at every consumer. Every operator that
materializes a frame goes through this module:

- :func:`reuse` is the only ``localCheckpoint`` in the package. Bounded
  frames (histograms, per-class counts, vocabularies) and frames whose
  re-derivation was measured to cost more than the checkpoint job go
  through it unconditionally.
- :func:`at_scale` decides whether a data-sized or cheaply re-derived frame
  is worth materializing. Locally, on a small input, the job barrier of a
  checkpoint costs more than re-scanning a tiny parquet (a18 at sf0.1:
  4.02 s without checkpoints vs 4.81 s with, min-of-8 alternating warmed,
  A/B script removed, see git history; a16 0.70 vs 1.32 s; t1 1.25 vs
  1.65 s). On a cluster each re-derivation is a full distributed scan and
  the checkpointed shape wins. Call sites decide once per public call and
  pass the bool down.
- :func:`persist_owned` is the only ``persist`` for frames an operator
  keeps across actions (signatures, index layers, component edges).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

# Above this optimizer size estimate a LOCAL job re-deriving the input per
# consumer loses to one materialization too.
SCALE_BYTES = 4 * 1024**3
# Estimates above ~1 EiB are Catalyst's unknown-size defaultSizeInBytes
# sentinel (Long.MaxValue), not a measurement: an RDD-backed input must not
# flip the measured-optimal local plan.
_SIZE_UNKNOWN_SENTINEL = 2**60


def _estimated_bytes(df: DataFrame) -> int:
    # py4j converts the Scala BigInt to a Python int directly
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def at_scale(*frames: DataFrame) -> bool:
    """True when the session master is not local, or when Catalyst's size
    estimate of any of ``frames`` is above :data:`SCALE_BYTES`."""
    master = frames[0].sparkSession.sparkContext.master
    if not master.startswith("local"):
        sizes: list[int] = []
        decision = True
    else:
        sizes = [_estimated_bytes(f) for f in frames]
        decision = any(SCALE_BYTES < s < _SIZE_UNKNOWN_SENTINEL for s in sizes)
    _log.info(
        "at_scale=%s master=%s estimated_bytes=%s threshold=%d",
        decision, master, sizes or "not probed", SCALE_BYTES,
    )
    return decision


def reuse(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once for its several consumers and truncate its
    lineage. Lazy by default: the first action over the result fills it."""
    return df.localCheckpoint(eager=eager)


def persist_owned(df: DataFrame) -> tuple[DataFrame, bool]:
    """``persist()`` guarded on the CacheManager, reporting whether THIS call
    performed the persist.

    With memoized scans (sources.io._SCAN_CACHE) a repeated operator call
    rebuilds an IDENTICAL logical plan; a bare ``persist()`` on it logs
    ``Asked to cache already cached data``, and a later ``unpersist()``
    from one call site would evict the sibling's live cache mid-use.
    ``df.storageLevel`` consults the session CacheManager by plan, so this
    is a true already-cached test. A caller that unpersists on exit does so
    only when it owns the cache."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        return df, False
    return df.persist(), True
