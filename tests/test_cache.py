"""Unit tests for the session-scoped materialization cache and the pin
lifecycle — pure-Python fakes, no SparkSession: the contracts are about
WHICH probe result evicts and WHEN a frame is persisted or released, not
about Spark itself."""

from __future__ import annotations

import pytest

from concordium_transaction_logger_spark import cache


class _Artifact:
    """A frame's pin surface: counts persists, flags the release, and
    appends both to a shared log."""

    def __init__(self, name="a", log=None):
        self.name = name
        self.log = [] if log is None else log
        self.persisted = 0
        self.unpersisted = False

    def persist(self):
        self.persisted += 1
        self.log.append(("persist", self.name))
        return self

    def unpersist(self):
        self.unpersisted = True
        self.log.append(("unpersist", self.name))
        return self


class _ConnectLike:
    """Spark Connect shape: a plain-Python ``is_stopped`` property and no
    ``sparkContext._jsc`` JVM handle."""

    def __init__(self, stopped):
        self._stopped = stopped
        self.probes = 0

    @property
    def is_stopped(self):
        self.probes += 1
        return self._stopped


class _ProbeError:
    """Neither probe works (e.g. an exotic session wrapper): must read as
    ALIVE — an evict-on-error default would disable every session index."""

    @property
    def is_stopped(self):
        raise RuntimeError("no liveness API")

    @property
    def sparkContext(self):
        raise RuntimeError("no JVM")


def _seed(name, sess, n=1):
    c = cache._CACHES.setdefault(name, {})
    arts = []
    for i in range(n):
        a = _Artifact()
        c[(id(sess), f"/corpus/{i}")] = (sess, a)
        arts.append(a)
    return arts


def _drop(name):
    cache._CACHES.pop(name, None)


def test_sweep_evicts_stopped_connect_session():
    sess = _ConnectLike(stopped=True)
    arts = _seed("t_conn_dead", sess, n=3)
    try:
        cache._sweep_dead()
        assert cache._CACHES["t_conn_dead"] == {}
        assert all(a.unpersisted for a in arts)
        # liveness memoized per sweep: one probe for three entries
        assert sess.probes == 1
    finally:
        _drop("t_conn_dead")


def test_sweep_keeps_live_connect_session():
    sess = _ConnectLike(stopped=False)
    _seed("t_conn_live", sess, n=2)
    try:
        cache._sweep_dead()
        assert len(cache._CACHES["t_conn_live"]) == 2
    finally:
        _drop("t_conn_live")


def test_sweep_keeps_session_whose_probes_both_fail():
    sess = _ProbeError()
    _seed("t_probe_err", sess)
    try:
        cache._sweep_dead()
        assert len(cache._CACHES["t_probe_err"]) == 1
    finally:
        _drop("t_probe_err")


def test_get_or_build_survives_probe_error_session():
    sess = _ProbeError()
    try:
        built = []
        v1 = cache.get_or_build("t_gob", sess, "/c", lambda: built.append(1) or "x")
        v2 = cache.get_or_build("t_gob", sess, "/c", lambda: built.append(1) or "y")
        assert (v1, v2) == ("x", "x") and built == [1]
    finally:
        _drop("t_gob")


def test_get_or_build_persists_each_frame_once():
    """A frame value, and each frame member of a tuple value, is persisted
    once, at build; a scalar (``n_users``) or a list (PQ codebooks) is
    cached as is — it has no ``persist`` to call."""
    sess = _ConnectLike(stopped=False)
    frame, member = _Artifact(), _Artifact()
    values = {
        "t_frame": frame,
        "t_tuple": ([("merge",)], member),
        "t_scalar": 7,
        "t_books": [[1, 2], [3, 4]],
    }
    try:
        for name, value in values.items():
            for _ in range(2):
                assert cache.get_or_build(name, sess, "/c", lambda: value) is value
        assert (frame.persisted, member.persisted) == (1, 1)
        assert not frame.unpersisted and not member.unpersisted
    finally:
        for name in values:
            _drop(name)


def test_sweep_and_release_corpus_release_tuple_members():
    dead, live = _ConnectLike(stopped=True), _ConnectLike(stopped=False)
    a, b = _Artifact("a"), _Artifact("b")
    c = cache._CACHES.setdefault("t_tuple_release", {})
    c[(id(dead), "/c")] = (dead, ([1], a))
    c[(id(live), "/c")] = (live, ([2], b))
    try:
        cache._sweep_dead()
        assert a.unpersisted and not b.unpersisted
        cache.release_corpus(live, "/c")
        assert b.unpersisted and c == {}
    finally:
        _drop("t_tuple_release")


def test_pins_release_in_reverse_order_on_return_and_on_raise():
    """A frame is released before the frames pinned ahead of it (the ones
    it reads), whether the scope's body returns or raises."""
    want = [("persist", "a"), ("persist", "b"), ("unpersist", "b"), ("unpersist", "a")]
    log = []
    a, b = _Artifact("a", log), _Artifact("b", log)
    with cache.pins() as pin:
        assert pin(a) is a and pin(b) is b
        assert log == want[:2]
    assert log == want

    log = []
    a, b = _Artifact("a", log), _Artifact("b", log)
    with pytest.raises(RuntimeError, match="batch failed"):
        with cache.pins() as pin:
            pin(a)
            pin(b)
            raise RuntimeError("batch failed")
    assert log == want


def test_only_cache_persists_or_releases_a_frame():
    """Every pin in the package goes through ``cache.py``: get_or_build
    for the session lifetime, pins() for a call. A hand-written
    ``persist``/``unpersist`` anywhere else fails here."""
    import ast
    import pathlib

    import concordium_transaction_logger_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    sites = set()
    for f in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "unpersist")
            ):
                sites.add(str(f.relative_to(root)))
    assert sites == {"cache.py"}, sites
