"""Session-wide persist tracking — the ownership contract for every
``persist()`` in this package.

Shared scans (shingle tables, quantized vectors, candidate pair sets)
are persisted because several downstream branches of ONE query plan
re-read them; they must stay cached until the query's consuming action
runs, which happens OUTSIDE the query function (the driver / bench /
oracle gate collects the returned DataFrame). No function in the
package can therefore unpersist its own cache at the right moment.

The contract:

* producers call :func:`track_persist` instead of ``df.persist()``;
* the catalog wrapper (queries._with_cache_release) releases the
  PREVIOUS entry's tracked caches when the NEXT entry is built, so any
  sequential consumer — the judge driver, bench.py, oracle_check —
  holds at most one query's cached blocks without having to
  cooperate;
* consumers that want deterministic cleanup (tests, long-lived
  engines) call :func:`release_persisted` directly after their action.

``unpersist()`` on an already-released DataFrame is a Spark no-op, so
operators with correctly paired explicit unpersists (the iterative
component loops) may ALSO route through the tracker for crash safety.
"""

from __future__ import annotations

from typing import Callable, Hashable

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_SHARED: dict[Hashable, DataFrame] = {}


def shared_scan(
    key: Hashable, builder: Callable[[], DataFrame], level=None
) -> DataFrame:
    """DELIBERATE cross-entry cache for the catalog's common
    substrates — the word-shingle table and the verified LSH edge set
    that 10+ dedup/graph entries all derive from the same corpus scan.
    (Before r04's hygiene pass these were shared ACCIDENTALLY: leaked
    per-entry persists happened to match later entries' logical plans.
    This makes the sharing explicit, keyed, and bounded.)

    Keyed by (name, sf_dir, params): one entry per substrate per
    corpus per session. NOT released by the per-entry wrapper —
    :func:`release_shared` clears it (bench/oracle call it at the end
    of a full catalog run). At 100 TB the equivalent is a
    materialized-at-rest table written once at ingest, not a RAM
    cache; the session-level cache models exactly that reuse.

    Entries are valid only for the SparkSession that built them: if
    the session was stopped and recreated in-process, a cached
    DataFrame is bound to the dead session and every consumer would
    fail until process restart. The cache therefore records the owning
    session and drops ALL entries on mismatch before serving."""
    df = _SHARED.get(key)
    if df is not None and not _session_alive(df):
        # Stale entries from a stopped session: drop WITHOUT unpersist
        # (their JVM-side state died with the session) and rebuild on
        # whatever session the builder uses.
        _SHARED.clear()
        df = None
    if df is None:
        from pyspark import StorageLevel

        df = builder().persist(level or StorageLevel.MEMORY_AND_DISK)
        _SHARED[key] = df
    return df


def _session_alive(df: DataFrame) -> bool:
    """True iff the session that owns ``df`` is still usable."""
    try:
        sc = df.sparkSession.sparkContext
        return sc._jsc is not None  # stopped sessions null this out
    except Exception:
        return False


_SHARED_FIT: dict[Hashable, object] = {}

# Cold-build seconds per fit-once on-disk cache root (/tmp/ip_*_cache),
# accumulated by the _DONE-miss paths so a bench run can report every
# second of compute it performed — including index/manifest builds that
# later runs read from disk (r11 verdict item 1: no silently un-timed
# compute in a bench total).
_FIT_BUILDS: dict[str, float] = {}


def record_fit_build(cache_root: str, sec: float) -> None:
    """Accumulate cold-build wall seconds for a fit-once cache miss."""
    _FIT_BUILDS[cache_root] = round(
        _FIT_BUILDS.get(cache_root, 0.0) + sec, 3
    )


def fit_build_seconds() -> dict[str, float]:
    """Cold fit-once cache builds performed by this process so far."""
    return dict(_FIT_BUILDS)


def reset_fit_builds() -> None:
    """Forget the cold-build log, so a run that starts here reports
    only its own builds. Deliberately separate from
    :func:`release_shared`: callers that read :func:`fit_build_seconds`
    as a delta across a region that releases the shared caches would
    otherwise lose a build made inside that region."""
    _FIT_BUILDS.clear()


def shared_fit(key: Hashable, builder: Callable[[], object]) -> object:
    """The :func:`shared_scan` discipline for DRIVER-SIDE fitted
    artifacts — the BPE merge table, the unigram/WordPiece vocab
    lists: bounded, deterministic training outputs that several
    catalog entries derive from the same corpus scan (bpe_train /
    tokenizer_fertility_matrix / tokenizer_merge_curve /
    tokenizer_lang_fairness all replay the identical 8-merge
    training). At 100 TB a trained tokenizer is a fit-once artifact
    written at ingest next to the IVF/PQ indexes (operators/ivf.py
    docstring); the session-level memo models exactly that reuse —
    in-process only, keyed by (name, corpus, params), cleared by
    :func:`release_shared` with the substrate scans."""
    if key not in _SHARED_FIT:
        _SHARED_FIT[key] = builder()
    return _SHARED_FIT[key]


# Resolved relations: key -> (token, DataFrame); see shared_relation.
_RELATIONS: dict[Hashable, tuple[str, DataFrame]] = {}


def shared_relation(
    spark, key: Hashable, token: str | None, builder: Callable[[], DataFrame]
) -> DataFrame:
    """Reuse a resolved (listed, schema-inferred) DataFrame while the
    data it reads is unchanged — the memo under the snapshot-store
    read path (operators/snapshot_store.read_snapshot).

    ``token`` names the exact immutable state ``builder`` reads (a
    manifest commit id). A frame is served again only for the same
    ``key``, the same token and the SAME live session object — never
    to a ``spark.newSession()`` sibling, a micro-batch's cloned
    session, or a session recreated after a stop. Any miss replaces
    the key's frame, so the memo holds at most one relation per key.
    ``token=None`` (state that cannot be named) builds uncached and
    drops the key. Nothing is persisted; :func:`release_shared` clears
    the memo."""
    hit = _RELATIONS.get(key)
    if (
        token is not None
        and hit is not None
        and hit[0] == token
        and hit[1].sparkSession is spark
        and _session_alive(hit[1])
    ):
        return hit[1]
    df = builder()
    if token is None:
        _RELATIONS.pop(key, None)
    else:
        _RELATIONS[key] = (token, df)
    return df


def release_shared() -> int:
    """Unpersist every shared substrate scan (and drop the fitted-
    artifact and resolved-relation memos)."""
    n = 0
    for df in _SHARED.values():
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    _SHARED.clear()
    _SHARED_FIT.clear()
    _RELATIONS.clear()
    return n


def track_persist(df: DataFrame, level=None) -> DataFrame:
    """Persist ``df`` and register it for the next release sweep."""
    df = df.persist(level) if level is not None else df.persist()
    _TRACKED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every tracked DataFrame (blocking=False); returns how
    many were released. Safe to call at any time — plans referencing a
    released cache recompute instead of failing."""
    n = 0
    for df in _TRACKED:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    _TRACKED.clear()
    return n
