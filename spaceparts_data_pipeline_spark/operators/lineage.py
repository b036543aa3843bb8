"""Lineage control for iterative / composed plans.

Three independent subsystems discovered the same failure mode and the
same fix (round-11 verdict next-round #6 named it; this module is the
single implementation):

- iterative label propagation (``dedup_fuzzy.connected_components``):
  each round's plan references the previous round twice, so the
  ANALYZED plan doubles per iteration — ``persist`` alone leaves 2^k
  copies of the upstream generator in the logical tree and OOMs the
  driver during CacheManager plan normalization at toy data sizes;
- iterative vocabulary training (``text.bpe_train``): same shape, one
  fold per round over the word table;
- composed cached stage frames (``plans/corpus.run_corpus_ingest``):
  stage frames nesting corpus-scale aggregate subtrees (model gates)
  make plan compilation AND ``unpersist()``'s CacheManager cascade walk
  re-canonicalize those trees against every cached entry — ~30 s of
  pure driver time per funnel batch, a measured 4× end-to-end penalty.

``stage_cut`` materializes a stage boundary AND replaces its logical
plan with a leaf (LogicalRDD), so downstream plans stay O(1) in
composition depth and cache operations stay milliseconds. Data
semantics are unchanged — the same rows, computed once.

Replay trade (same as localCheckpoint everywhere in the engine): local
checkpoint blocks live on executor block managers; losing an executor
makes them unrecoverable, which aborts the job rather than corrupting
results — acceptable wherever the surrounding computation is idempotent
(all three call sites re-run their batch/round on failure). For
multi-hour cluster runs pass ``reliable=True`` to write through the
SparkContext checkpoint dir instead (requires ``sc.setCheckpointDir``).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def share_mode(df: DataFrame | None = None) -> str:
    """Runtime override for the r16 measured shared-subtree decisions:
    ``spark.spaceparts.shareSubtrees`` = ``auto`` (default — ship the
    per-query choices A/B-measured in OPTIMIZATION_r16.md, with the
    scale-gated shares resolved per construction by
    :func:`scale_share`), ``off`` (disable every conf-gated subtree
    share, restoring the pre-r16 recompute shapes), or ``on`` (force
    the full-share variants everywhere, including the paths measured
    slower at single-file sf0.1 bench scale: e06's codebook share and
    the d23/d24 tiny-frame gram-kernel cuts). Read at
    query-CONSTRUCTION time so one session can interleave variants
    rep-by-rep — the contract the interleaved off/on crossover
    measurement (SCALING.md, SHARE_CROSSOVER_r17.json) relies on. Values
    are identical in every mode (each shared subtree is deterministic
    and the cut is pure materialization); only how many times it is
    computed changes.

    A value outside {auto, off, on} (after strip+lower) is a probe
    integrity hazard — a typo would silently time two identical shapes
    (ADVICE r16) — so it is LOGGED loudly and coerced to ``auto``
    rather than swallowed."""
    spark = df.sparkSession if df is not None else None
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is None:
        return "auto"
    try:
        raw = spark.conf.get("spark.spaceparts.shareSubtrees", "auto") or "auto"
    except Exception:
        _log.warning("share_mode: could not read spark.spaceparts."
                     "shareSubtrees; defaulting to 'auto'", exc_info=True)
        return "auto"
    mode = raw.strip().lower()
    if mode not in ("auto", "off", "on"):
        _log.warning("share_mode: unrecognized spark.spaceparts."
                     "shareSubtrees=%r (expected auto|off|on); "
                     "using 'auto'", raw)
        return "auto"
    return mode


#: scale_share flip point: share a conf-gated subtree when the input
#: frame's scan yields at least this many partitions per core. Measured
#: r16/r17 (SCALING.md "share crossover"): the duplicated subtrees are
#: only free while cores sit idle — single-file sf0.1 layouts produce
#: 1-2 scan splits against 8-32 cores (shares LOSE, ratio ≤0.25) while
#: every measured multi-file / larger-data layout at ratio ≥1 had the
#: shares WIN or tie (32 files vs 8 cores −14..−29%, 32 files ×16 data
#: vs 32 cores −12..−18%). Bytes-per-core CANNOT separate the two
#: regimes (the 32-file ×1 corpus at 8 cores WINS with the same
#: bytes/core that LOSES single-file at 8 cores) — the signal must see
#: scan parallelism, not volume.
SCALE_SHARE_PARTS_PER_CORE = 1.0


def scale_share(frame: DataFrame, mode: str | None = None) -> bool:
    """Resolve whether a SCALE-GATED subtree share applies for this
    query construction: ``on`` → always, ``off`` → never, ``auto`` →
    share when ``frame``'s scan parallelism reaches the measured flip
    point (≥ :data:`SCALE_SHARE_PARTS_PER_CORE` splittable scan units
    per core). Callers pass the SCAN-LEVEL input frame (the corpus /
    training table read).

    Scan parallelism comes from driver-side metadata only — the
    ``inputFiles()`` listing, then local parquet footers for row-group
    counts (parquet cannot split below row-group granularity), the
    ``similarity._ensure_parallel`` pattern: never a ``df.rdd``
    conversion or a Spark job in live query paths (round-5 verdict).
    Unknown layouts (remote URI schemes, non-file plans, unreadable
    footers) keep the unshared shape — a cluster operator at real
    data-to-core ratios pins ``shareSubtrees=on`` instead.

    ``mode`` lets a caller that already resolved :func:`share_mode`
    avoid a second conf read (and guarantees one construction can
    never mix modes if the conf changes mid-build — ADVICE r16)."""
    mode = share_mode(frame) if mode is None else mode
    if mode == "on":
        return True
    if mode == "off":
        return False
    try:
        cores = frame.sparkSession.sparkContext.defaultParallelism
        files = frame.inputFiles()
    except Exception:
        _log.warning("scale_share: could not list the input frame's "
                     "files; keeping the unshared shape", exc_info=True)
        return False
    need = max(1, int(cores * SCALE_SHARE_PARTS_PER_CORE))
    if len(files) >= need:
        return True
    import urllib.parse

    import pyarrow.parquet as pq

    n_splits = 0
    for f in files:
        parsed = urllib.parse.urlparse(f)
        if parsed.scheme not in ("", "file"):
            return False  # remote layout: signal unknown, stay unshared
        try:
            n_splits += pq.ParquetFile(parsed.path or f).metadata.num_row_groups
        except Exception:
            return False
        if n_splits >= need:
            return True
    return False


def stage_cut(df: DataFrame, *, eager: bool = True, reliable: bool = False,
              unpersist: DataFrame | list | tuple | None = None) -> DataFrame:
    """Materialize ``df`` and cut its logical lineage to a leaf.

    ``unpersist``: previous-stage frame(s) to release once the cut is
    materialized — the bookkeeping every iterative caller was
    hand-rolling (cut next, then unpersist previous, never the reverse:
    the cut must not recompute through an already-released cache)."""
    cut = df.checkpoint(eager=eager) if reliable else df.localCheckpoint(eager=eager)
    if unpersist is not None:
        prev = unpersist if isinstance(unpersist, (list, tuple)) else [unpersist]
        for p in prev:
            # never-persisted frames are the expected no-op (checked, not
            # caught); a genuine release failure — stopped SparkContext,
            # JVM error mid-loop — is LOGGED so leaking cached stages has
            # a signal instead of a silent pass (ADVICE r12). Cleanup
            # still doesn't abort the caller: the surrounding iteration
            # is idempotent and the leak is bounded by one stage frame.
            try:
                sl = p.storageLevel
                if sl.useMemory or sl.useDisk or sl.useOffHeap:
                    p.unpersist()
            except Exception:
                _log.warning("stage_cut: failed to release a cached "
                             "previous-stage frame; its blocks may leak "
                             "until session end", exc_info=True)
    return cut
