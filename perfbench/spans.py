"""Spans around calls into the engine's layers, recorded from outside the
engine.

A span has a name, a start, an end, a parent and the round it belongs to.
Coarse spans (a sync, a cursor save, an epoch) are kept one record each.
Per-row spans (row fetch, ``is_valid``, ``handle_row``) would be hundreds of
thousands a round, so they are folded into per-round totals as they close.
Either way each span adds its time to its parent's child time, so a layer's
self time is its total minus its children.

``Tracer.patch`` swaps a function for a timed wrapper and ``restore`` puts
every original back. The runner patches only around traced rounds, so
untraced rounds execute the engine's code unmodified.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict
from typing import Any, Callable, Iterator


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.round = "setup"
        self.records: list[dict[str, Any]] = []
        self.total: dict[tuple[str, str], float] = defaultdict(float)
        self.self_time: dict[tuple[str, str], float] = defaultdict(float)
        self.calls: dict[tuple[str, str], int] = defaultdict(int)
        self._stack: list[list[Any]] = []
        self._patched: list[tuple[Any, str, Any, bool]] = []
        self._wall0 = time.time()
        self._perf0 = time.perf_counter()

    def wall(self, perf: float) -> float:
        return self._wall0 + (perf - self._perf0)

    # -- spans --------------------------------------------------------------
    def _open(self, name: str) -> list[Any]:
        frame = [name, time.perf_counter(), 0.0]
        self._stack.append(frame)
        return frame

    def _close(self, frame: list[Any], keep: bool) -> None:
        end = time.perf_counter()
        dur = end - frame[1]
        self._stack.pop()
        key = (self.round, frame[0])
        self.total[key] += dur
        self.self_time[key] += dur - frame[2]
        self.calls[key] += 1
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            parent[2] += dur
        if keep:
            self.records.append({
                "id": len(self.records),
                "name": frame[0],
                "parent": parent[0] if parent is not None else None,
                "round": self.round,
                "start": self.wall(frame[1]),
                "end": self.wall(end),
            })

    @contextlib.contextmanager
    def span(self, name: str, keep: bool = True) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        frame = self._open(name)
        try:
            yield
        finally:
            self._close(frame, keep)

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.calls[(self.round, name)] += n

    def timed(self, fn: Callable, name: str, keep: bool = True) -> Callable:
        def wrapper(*args, **kwargs):
            frame = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(frame, keep)

        wrapper.__wrapped__ = fn
        return wrapper

    def timed_iter(self, it, name: str) -> Iterator[Any]:
        """Yield from ``it``, timing only the time blocked inside ``next``."""
        it = iter(it)
        while True:
            frame = self._open(name)
            try:
                item = next(it)
            except StopIteration:
                self._close(frame, False)
                return
            self._close(frame, False)
            yield item

    # -- patches ------------------------------------------------------------
    def patch(self, owner: Any, attr: str, wrap: Callable[[Callable], Callable]) -> None:
        # an inherited attribute is restored by deleting the override
        self._patched.append((owner, attr, vars(owner).get(attr), attr in vars(owner)))
        setattr(owner, attr, wrap(getattr(owner, attr)))

    def time_calls(self, owner: Any, attr: str, name: str, keep: bool = True) -> None:
        self.patch(owner, attr, lambda fn: self.timed(fn, name, keep))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original, own = self._patched.pop()
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    # -- per-round views ----------------------------------------------------
    def per_round(self, round_id: str) -> dict[str, tuple[float, float, int]]:
        """name → (total seconds, self seconds, calls) within one round."""
        names = {n for (r, n) in self.calls if r == round_id}
        return {
            n: (
                self.total.get((round_id, n), 0.0),
                self.self_time.get((round_id, n), 0.0),
                self.calls[(round_id, n)],
            )
            for n in names
        }


def instrument_sync(tracer: Tracer, sink_classes: list[type], store: Any) -> None:
    """Timed wrappers around the sync path's layer boundaries: ``sql``
    (model compile + ``spark.sql``), the row fetch below it, ``cursor``,
    ``state`` (the store the benchmark created), ``validate`` and
    ``sinks``."""
    from syncmaven_spark import runner
    from syncmaven_spark.validate import RowValidator

    def model_dataframe(fn):
        def wrapper(*args, **kwargs):
            df = tracer.timed(fn, "sql.compile")(*args, **kwargs)
            # the call starts the scan job; each next() may block on it
            local_iter = tracer.timed(df.toLocalIterator, "runner.fetch", keep=False)
            df.toLocalIterator = lambda *a, **k: tracer.timed_iter(
                local_iter(*a, **k), "runner.fetch"
            )
            return df

        return wrapper

    tracer.patch(runner, "model_dataframe", model_dataframe)
    tracer.time_calls(runner, "load_cursor", "cursor.load")
    tracer.time_calls(runner, "save_cursor", "cursor.save")
    tracer.time_calls(RowValidator, "is_valid", "validate.is_valid", keep=False)
    for cls in sink_classes:
        tracer.time_calls(cls, "handle_row", "sinks.handle_row", keep=False)
        tracer.time_calls(cls, "finish", "sinks.finish")
        if hasattr(cls, "process_batch"):
            tracer.time_calls(cls, "process_batch", "sinks.flush")
    for method in ("get", "set", "list"):
        tracer.time_calls(store, method, f"state.{method}", keep=False)
