"""Versioned model/detector state round-trip.

Parity with the DetectorModel serialization contract
(kats/detectors/detector.py:157-166): state serializes to bytes/JSON,
and version N+1 of the code MUST load version-N state.  The codec makes
that upgrade rule mechanical: unknown keys are preserved (forward
compat), missing keys are defaulted (backward compat), and the stored
``version`` survives so migrations can branch on it.

In streaming this string is the per-series grouped-state value:
streaming/detector_harness.py loads and saves every streaming detector
model's state through that model's ``CODEC``.  In batch it is a plain
string column, so checkpoints are readable Parquet/JSON.
"""

from __future__ import annotations

import json
from typing import Any


class StateCodec:
    """JSON state codec with defaulting + unknown-key preservation."""

    def __init__(self, version: int, defaults: dict[str, Any]):
        self.version = version
        self.defaults = dict(defaults)

    def new(self) -> dict[str, Any]:
        state = dict(self.defaults)
        state["version"] = self.version
        return state

    def dumps(self, state: dict[str, Any]) -> str:
        return json.dumps(state, sort_keys=True)

    def loads(self, raw: str | bytes | None) -> dict[str, Any]:
        """vN+1 loads vN (detector.py:157-163): defaults fill missing keys,
        loaded keys (including unknown future ones) win, loaded version is
        kept so callers can migrate."""
        if not raw:
            return self.new()
        loaded = json.loads(raw)
        state = dict(self.defaults)
        state["version"] = self.version
        state.update(loaded)
        return state
