"""Session-scoped materialization cache, and the engine's one pin
lifecycle: no other module persists or releases a frame. A pin's
lifetime is set by where it is made:

- **session** — :func:`get_or_build` persists the frames of each value
  it caches: the per-(session, corpus) index artifacts (enriched feed,
  shingle/minhash/LSH-bucket indexes, IVF centroids and assignment — the
  analog of the reference's Postgres indexes, paid for at ingest, never
  per query). :func:`release_corpus` and the dead-session sweep release
  them.
- **call** — :func:`pins` releases what it pinned when its scope exits.

``localCheckpoint`` is the lineage cut, not a pin: the DataFrame API
cannot release it. Under adaptive execution (on by default) the cut is
not lazy even with ``eager=False``: it runs its input's shuffle stages
when it is called (on ``local[2]`` a one-shuffle aggregate ran 1 job at
call time with AQE on, 0 with it off).

Entries store the session object itself, not just ``id(spark)``: CPython
recycles ids after the old session is garbage-collected, so a *new*
session could inherit a dead session's DataFrames. Keeping the session
referenced makes id reuse impossible, and the identity check makes a hit
unambiguous.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any, Callable, Iterator

_CACHES: dict[str, dict[tuple[int, str], tuple[Any, Any]]] = {}


def _is_stopped(session: Any) -> bool:
    """Dead ONLY on an affirmative signal; a probe failure reads as
    alive (classifying it dead would silently evict every cache entry on
    every call, disabling all session indexes for that session type).

    Two probes, most-specific first:

    - ``session.is_stopped`` — the Spark Connect session's own liveness
      property (plain Python, no JVM round-trip; classic sessions don't
      have it and fall through). Without this probe a long-lived process
      cycling Connect sessions would never sweep them and regrow exactly
      the unbounded driver-memory cache _sweep_dead exists to prevent.
    - ``sparkContext._jsc.sc().isStopped()`` — the classic JVM probe.

    The cost of the lenient default is bounded — a genuinely-stopped
    session whose probes BOTH error keeps its entries until process
    exit, which is where a classic session's entries would die anyway."""
    try:
        v = session.is_stopped
        if isinstance(v, bool):
            return v
    except Exception:
        pass
    try:
        return session.sparkContext._jsc.sc().isStopped() is True
    except Exception:
        return False


def _sweep_dead() -> None:
    """Drop entries whose session has been stopped: holding them would pin
    the dead session's py4j graph (and its persisted blocks' metadata)
    forever — a long-lived process that recreates sessions would otherwise
    grow driver memory monotonically, with no way to evict (the identity
    check requires the original session object). Liveness is memoized per
    session FOR THIS SWEEP — one py4j round-trip per distinct session,
    not per cached entry (sweeps run on every get_or_build)."""
    status: dict[int, bool] = {}

    def stopped(sess: Any) -> bool:
        i = id(sess)
        if i not in status:
            status[i] = _is_stopped(sess)
        return status[i]

    for cache in _CACHES.values():
        for key in [k for k, (sess, _) in cache.items() if stopped(sess)]:
            try:
                _release(cache.pop(key)[1])
            except Exception:
                pass  # the backing context is gone; dropping the ref suffices


def _frames(value: Any) -> list:
    """The members of a cached value that hold a pin: the value itself,
    or each member of a tuple value, that can be unpersisted — DataFrames,
    never a scalar like ``n_users`` or the PQ codebook lists."""
    members = value if isinstance(value, tuple) else (value,)
    return [m for m in members if hasattr(m, "unpersist")]


def _release(value: Any) -> None:
    """Release every pin a cached value holds (see :func:`_frames`)."""
    for frame in _frames(value):
        frame.unpersist()


def get_or_build(
    cache_name: str, spark: Any, sf_dir: str, build: Callable[[], Any]
) -> Any:
    """Return the cached artifact for (spark, sf_dir), building it once.

    ``build`` runs lazily on first use and returns lazy frames; the built
    value's frames (see :func:`_frames`) are persisted here, once, for
    the session's lifetime. The cached value is returned only when the
    stored session is *identically* the caller's session. Each call
    opportunistically sweeps entries belonging to stopped sessions."""
    _sweep_dead()
    cache = _CACHES.setdefault(cache_name, {})
    key = (id(spark), sf_dir)
    hit = cache.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    value = build()
    for frame in _frames(value):
        frame.persist()
    cache[key] = (spark, value)
    return value


def release_corpus(spark: Any, sf_dir: str) -> None:
    """Drop (and unpersist) every cached artifact for one (session,
    corpus) pair — the eviction half of the index cache, for harnesses
    that sweep many corpora through one session (scale_slopes.py builds
    per-corpus shingle/minhash/LSH/IVF/k-means indexes; without eviction
    the persisted blocks of every past corpus pin executor memory until
    the session dies)."""
    key = (id(spark), sf_dir)
    for cache in _CACHES.values():
        hit = cache.pop(key, None)
        if hit is not None and hit[0] is spark:
            _release(hit[1])


@contextmanager
def pins() -> Iterator[Callable[[Any], Any]]:
    """A call-lifetime pin scope: yields ``pin(df) -> df``, which
    persists ``df`` and records it. On exit, normal or by exception, the
    recorded frames are released in reverse order of pinning, so a frame
    is released before the frames it reads. A micro-batch opens one
    scope around its whole body, so it holds no pin once it finishes,
    whether or not it fails."""
    pinned: list = []

    def pin(df: Any) -> Any:
        df = df.persist()
        pinned.append(df)
        return df

    try:
        yield pin
    finally:
        for df in reversed(pinned):
            df.unpersist()
