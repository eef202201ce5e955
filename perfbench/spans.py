"""In-memory span recorder for the traced run.

A span has a name, a layer, a start, an end, a parent and the id of the
pass it belongs to. Spans are kept in a list and written out once, at
exit. A layer's self time is the time its spans cover minus the part of
that interval their child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records nested spans when ``enabled``; a no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_length(children.get(s["id"], []))
        for s in spans
    }


def layer_self_times(spans: list[dict], pass_id: str) -> dict[str, float]:
    """Self time per layer over the spans of one pass."""
    own = [s for s in spans if s["pass"] == pass_id]
    st = self_times(own)
    out: dict[str, float] = {}
    for s in own:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def inclusive(spans: list[dict], pass_id: str, name: str | None = None,
              layer: str | None = None) -> float:
    """Summed duration of a pass's spans matching ``name``/``layer``."""
    return sum(
        s["end"] - s["start"]
        for s in spans
        if s["pass"] == pass_id
        and (name is None or s["name"] == name)
        and (layer is None or s["layer"] == layer)
    )
