"""Shared test helpers."""

from __future__ import annotations

import contextlib


@contextlib.contextmanager
def session_conf(spark, conf: dict[str, str]):
    """Set SQL confs on the shared test session for one block, then put
    the previous values back (or unset the ones that had none)."""
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class MockGroupState:
    """Minimal stand-in for pyspark GroupState, driving the stateful
    functions (streaming/twa.py, interp.py, cep.py) without a Spark query:
    tests set `_wm` (ms) / `hasTimedOut` between invocations."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self._wm = 0
        self.timeout = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


class MockListState:
    """Stand-in for the transformWithStateInPandas ListState variable."""

    def __init__(self):
        self.rows = []

    def get(self):
        return iter([tuple(r) for r in self.rows])

    def clear(self):
        self.rows = []

    def appendList(self, vals):
        self.rows.extend(tuple(v) for v in vals)


class MockTwsHandle:
    """Stand-in for StatefulProcessorHandle: named ListState variables plus
    a timer log (the processors only registerTimer; expiry is driven by the
    test calling handleExpiredTimer directly)."""

    def __init__(self):
        self.states = {}
        self.timers = []

    def getListState(self, name, schema):
        return self.states.setdefault(name, MockListState())

    def registerTimer(self, ts_ms):
        self.timers.append(ts_ms)

    def deleteTimer(self, ts_ms):
        pass


class MockTimerValues:
    def __init__(self, wm_ms):
        self._wm = wm_ms

    def getCurrentWatermarkInMs(self):
        return self._wm
