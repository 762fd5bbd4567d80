"""Session state: the package's three rules for holding it.

The catalog serves one long-lived driver session, so some state
outlives a query. Each kind is held one way:

- A memo (a tuned fit, an IVF index, a landed events directory, a
  persisted graph table, a footer schema) is a module-level
  ``BoundedCache`` filled through ``get_or_build``, keyed by the
  session's applicationId first. The bound keeps a server session
  cycling many sf_dirs from growing it forever; reads refresh LRU
  order. An entry that owns a resource names its release as the
  cache's eviction hook, ``unpersist_quietly`` for a persisted frame
  and ``remove_dir`` for a directory, and such a cache clears itself
  at interpreter exit.
- A directory that no result outlives (a sink round trip, a stream's
  checkpoint or upsert state) is a ``tempfile.TemporaryDirectory``
  around the call, which returns rows already collected or
  checkpointed.
- A persisted frame that must follow Spark's plan-identity cache keys
  is a ``PlanPin``.
"""

from __future__ import annotations

import atexit
import logging
import shutil
from collections import OrderedDict
from collections.abc import Callable
from typing import Generic, TypeVar

_LOG = logging.getLogger(__name__)

K = TypeVar("K")
V = TypeVar("V")


class BoundedCache(Generic[K, V]):
    """Insertion-bounded LRU mapping. Not thread-safe by design — all
    users run on the Spark driver thread. A cache built with
    ``on_evict`` runs it on every entry left at interpreter exit."""

    def __init__(
        self, max_entries: int, *, on_evict: Callable[[K, V], None] | None = None
    ) -> None:
        if max_entries < 1:
            raise ValueError("max_entries must be >= 1")
        self.max_entries = max_entries
        self._on_evict = on_evict
        self._data: OrderedDict[K, V] = OrderedDict()
        if on_evict is not None:
            atexit.register(self.clear)

    def get(self, key: K) -> V | None:
        hit = self._data.get(key)
        if hit is not None:
            self._data.move_to_end(key)
        return hit

    def get_or_build(self, key: K, build: Callable[[], V]) -> V:
        """The value under ``key``; on a miss, ``build()``'s value,
        stored under ``key`` first."""
        hit = self.get(key)
        if hit is None:
            hit = build()
            self.put(key, hit)
        return hit

    def put(self, key: K, value: V) -> None:
        # Re-putting an EXISTING key replaces the value WITHOUT firing
        # on_evict on the old one — deliberately. For persisted-
        # DataFrame values, unpersisting the old value here would evict
        # the Spark cache entry the (plan-identical) new value shares
        # (CacheManager keys by canonical plan — see PlanPin). The
        # package fills every cache through get_or_build, so a re-put means
        # a same-plan rebuild and the replaced frame leaks nothing the
        # shared entry doesn't still own; a caller that re-puts
        # genuinely DIFFERENT resources under one key must release the
        # old value itself.
        if value is None:
            # get() signals a miss with None, so a stored None would be
            # invisible: recomputed every call and never LRU-refreshed.
            # Fail loudly instead of caching a value that can't be hit.
            raise ValueError("BoundedCache cannot store None (miss sentinel)")
        if key in self._data:
            self._data.move_to_end(key)
        self._data[key] = value
        while len(self._data) > self.max_entries:
            old_key, old_val = self._data.popitem(last=False)
            if self._on_evict is not None:
                self._on_evict(old_key, old_val)

    def clear(self) -> None:
        while self._data:
            key, val = self._data.popitem(last=False)
            if self._on_evict is not None:
                self._on_evict(key, val)

    def __len__(self) -> int:
        return len(self._data)

    def __contains__(self, key: K) -> bool:
        return key in self._data


def _session_stopped(frame) -> bool:
    """True iff the frame's session is stopped (SparkContext.stop()
    nulls ``_jsc``) or so torn down the probe itself fails."""
    try:
        return frame.sparkSession._sc._jsc is None
    except Exception:
        return True


def _resource(value):
    """The resource an entry owns: the value itself, or the first item
    of a tuple value."""
    return value[0] if isinstance(value, tuple) else value


def unpersist_quietly(_key, value) -> None:
    """Eviction hook for an entry that owns a persisted frame (the
    value, or the first item of a tuple value). Entries outlive their
    session (keys carry the applicationId because sessions cycle), so
    a frame whose session is stopped is skipped, and a failed unpersist
    is swallowed: eviction releases best-effort and never fails.

    Plan-identity caveat (the PlanPin postmortem pattern): Spark's
    CacheManager keys by canonical plan and is shared across sessions
    of one SparkContext, so evicting an OLD session's entry whose plan
    matches a LIVE session's freshly cached twin (same sf_dir, new
    applicationId) would evict the live entry too. The consequence is
    a recompute, never wrongness, and the one-session-per-process
    discipline (session.get_session) makes the overlap unreachable in
    practice; it would look like an inexplicable cache miss, not an
    error."""
    frame = _resource(value)
    if _session_stopped(frame):
        return
    try:
        frame.unpersist()
    except Exception:
        pass  # the JVM may already be gone at interpreter exit


def remove_dir(_key, value) -> None:
    """Eviction hook for an entry that owns a directory (the value, or
    the first item of a tuple value)."""
    shutil.rmtree(_resource(value), ignore_errors=True)


class PlanPin:
    """Single-slot DataFrame persist pin keyed by PLAN IDENTITY.

    Spark's CacheManager caches by CANONICAL PLAN, not by DataFrame
    object: two frames with the same plan share ONE cache entry, so
    "persist the new frame, then unpersist the previous one" EVICTS the
    entry the new frame just claimed (measured as a 5× per-call
    regression in the minhash shingle cache — BASELINE.md round-9
    amendment). This pin gets the ordering right once, for every
    callsite that wants "at most one persisted copy of X per session":

    - ``pin(frame)``: if the currently pinned frame is plan-identical
      (``sameSemantics``) AND from the same session, return the pinned
      frame (shared entry, kept warm). Otherwise release the stale pin,
      persist ``frame``, pin and return it.
    - ``release(frame)``: unpersist ``frame`` and drop it from the pin
      if it is the pinned copy — for eager-cleanup paths (diagnostics)
      that must not leave a pinned-but-evicted frame behind. Releasing
      a frame that is NOT the pinned object while a plan-identical
      frame IS pinned is a no-op: the two share one CacheManager entry,
      and unpersisting the twin would evict it out from under the pin
      (the exact silent-recompute failure this class exists to
      prevent).

    Single-threaded-driver discipline, like BoundedCache. A caller
    still holding an unmaterialized result across a pin swap just
    recomputes — correctness is unaffected by eviction.
    """

    def __init__(self) -> None:
        self._pinned: list = []

    def pin(self, frame):
        while self._pinned:
            prev = self._pinned[-1]
            if not _session_stopped(prev):
                try:
                    if prev.sparkSession is frame.sparkSession and prev.sameSemantics(
                        frame
                    ):
                        return prev
                except Exception:
                    # A comparison error on a LIVE session is not the
                    # stopped-session path — if systematic it degrades
                    # every call to unpersist-and-repersist (the
                    # measured 5× minhash regression), so make it
                    # observable instead of silent.
                    _LOG.warning(
                        "PlanPin.pin: sameSemantics failed on a live "
                        "session; treating pin as stale",
                        exc_info=True,
                    )
            self._pinned.pop()
            try:
                prev.unpersist()
            except Exception:
                pass  # the previous pin's session may already be stopped
        frame = frame.persist()
        self._pinned.append(frame)
        return frame

    def release(self, frame) -> None:
        if self._pinned and self._pinned[-1] is frame:
            self._pinned.pop()
            frame.unpersist()
            return
        if self._pinned:
            pinned = self._pinned[-1]
            try:
                if pinned.sparkSession is frame.sparkSession and pinned.sameSemantics(
                    frame
                ):
                    # Plan-identical twin of the pinned frame: they
                    # share one CacheManager entry owned by the pin —
                    # unpersisting here would evict it. No-op.
                    return
            except Exception:
                pass  # stopped/torn-down session: fall through
        frame.unpersist()

    def __len__(self) -> int:
        return len(self._pinned)
