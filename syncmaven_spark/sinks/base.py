"""Sink framework: provider/stream ABCs, batching, rate-limit retry.

Reference machinery being mirrored:
- stdProtocol lifecycle (describe / describe-streams / start-stream / row /
  end-stream + stats): ``packages/node-cdk/src/std.ts:31-186``.
- ``BatchingOutputStream`` buffering with default flush at 1000 rows:
  ``packages/node-cdk/src/index.ts:85-129``.
- ``RateLimitError`` with retry-after, engine-side sleep-and-retry loop:
  ``packages/node-cdk/src/rate-limit.ts:1-20``, ``std.ts:147-167``.
- stream stats ``{received, success, skipped, failed}``:
  ``packages/protocol/src/index.ts:138-153``.
- known/custom column split (``pick``/``omit`` on the declared row type):
  ``packages/connectors/intercom/src/index.ts:217-221``.
"""

from __future__ import annotations

import time
from abc import ABC, abstractmethod
from dataclasses import dataclass, field
from typing import Any

DEFAULT_BATCH_SIZE = 1000  # node-cdk/src/index.ts:94
MAX_RATE_LIMIT_RETRIES = 5


class HaltError(RuntimeError):
    """Fatal sink error — stop feeding rows (protocol 'halt' message,
    sync.ts:372-399)."""


class RateLimitError(RuntimeError):
    """Destination asked us to back off (rate-limit.ts:1-20)."""

    def __init__(self, message: str = "rate limited", retry_after_ms: int = 1000):
        super().__init__(message)
        self.retry_after_ms = retry_after_ms


@dataclass
class StreamStats:
    """end-stream stats (protocol/src/index.ts:138-153)."""

    received: int = 0
    success: int = 0
    skipped: int = 0
    failed: int = 0
    substreams: dict[str, int] = field(default_factory=dict)

    def fold(self, part: StreamStats) -> None:
        """Add a stream's (or a chunk's) stats into this ledger."""
        self.received += part.received
        self.success += part.success
        self.skipped += part.skipped
        self.failed += part.failed
        for k, v in part.substreams.items():
            self.substreams[k] = self.substreams.get(k, 0) + v

    def as_dict(self) -> dict[str, Any]:
        d = {
            "received": self.received,
            "success": self.success,
            "skipped": self.skipped,
            "failed": self.failed,
        }
        if self.substreams:
            d["substreams"] = dict(self.substreams)
        return d


@dataclass
class StreamSpec:
    """A named, schema'd sink endpoint (protocol/src/index.ts:77-98)."""

    name: str
    row_type: dict[str, Any]  # JSON Schema
    supported_modes: tuple[str, ...] = ("upsert",)


class OutputStream(ABC):
    """One started stream: receives rows, returns stats on finish."""

    def __init__(self) -> None:
        self.stats = StreamStats()

    @abstractmethod
    def handle_row(self, row: dict[str, Any]) -> None: ...

    def finish(self) -> StreamStats:
        return self.stats

    def undelivered_rows(self) -> list[dict[str, Any]]:
        """Rows handed to the stream that are known NOT to have reached the
        destination (a batching sink's failed-flush batch plus whatever is
        still buffered). The runner clamps the halt-time cursor checkpoint
        to the minimum cursor among these, so a failed 1000-row flush can
        never be skipped past. Non-buffering streams deliver in
        ``handle_row`` and have nothing pending."""
        return []


class BatchingOutputStream(OutputStream):
    """Buffer rows; flush every ``max_batch_size`` and on finish
    (node-cdk/src/index.ts:85-129)."""

    def __init__(self, max_batch_size: int = DEFAULT_BATCH_SIZE) -> None:
        super().__init__()
        self.max_batch_size = max_batch_size
        self._buffer: list[dict[str, Any]] = []
        self._failed_batches: list[dict[str, Any]] = []

    def handle_row(self, row: dict[str, Any]) -> None:
        self.stats.received += 1
        self._buffer.append(row)
        if len(self._buffer) >= self.max_batch_size:
            self._flush()

    def _flush(self) -> None:
        if not self._buffer:
            return
        batch, self._buffer = self._buffer, []
        try:
            # Rate-limit retry lives at the flush (API-call) layer: retrying
            # handle_row would re-append the row and drop the popped batch.
            with_rate_limit_retry(self.process_batch, batch)
        except RowError as e:
            # RowError is a PER-ROW contract (raise it from handle_row,
            # before buffering): escaping process_batch it cannot identify
            # WHICH row failed, and letting the runner "continue past one
            # row" would silently discard the other N-1 rows of the popped
            # batch and advance the cursor over them. Re-typed so the
            # runner treats it as an undeclared batch failure — sync
            # aborts, cursor not persisted, batch re-sent next run.
            self.stats.failed += len(batch)
            self._failed_batches.extend(batch)
            raise RuntimeError(
                f"process_batch raised RowError for a {len(batch)}-row "
                "batch; RowError must be raised per-row from handle_row — "
                "treating as a batch delivery failure"
            ) from e
        except Exception:
            self.stats.failed += len(batch)
            self._failed_batches.extend(batch)
            raise

    def undelivered_rows(self) -> list[dict[str, Any]]:
        return self._failed_batches + self._buffer

    @abstractmethod
    def process_batch(self, rows: list[dict[str, Any]]) -> None: ...

    def finish(self) -> StreamStats:
        self._flush()
        return self.stats


class DestinationProvider(ABC):
    """A destination connector (describe / streams / start-stream)."""

    name: str = "base"
    #: JSON Schema for connection credentials — the reference's describe →
    #: spec payload (sync.ts:405-415, std.ts:62-70)
    credentials_schema: dict[str, Any] = {"type": "object", "properties": {}}
    #: True when output streams need no shared driver-side state (no ID maps,
    #: no last-synced caches, no single local file): such sinks can be opened
    #: one-per-partition on executors (``foreachPartition`` delivery) instead
    #: of materializing batches on the driver.
    stateless: bool = False

    @abstractmethod
    def streams(self) -> list[StreamSpec]: ...

    def describe(self) -> dict[str, Any]:
        return {
            "name": self.name,
            "streams": [s.name for s in self.streams()],
            "connectionCredentials": self.credentials_schema,
        }

    def stream_spec(self, stream_name: str) -> StreamSpec:
        for s in self.streams():
            if s.name == stream_name:
                return s
        raise KeyError(f"{self.name} has no stream {stream_name!r}")

    @abstractmethod
    def create_output_stream(
        self,
        stream_name: str,
        credentials: dict[str, Any],
        sync_id: str,
        store: Any,
        full_refresh: bool = False,
        restart: bool = False,
        options: dict[str, Any] | None = None,
    ) -> OutputStream:
        """Open a stream. ``restart=True`` marks a checkpoint continuation
        within the same run (reference stopStream/new-stream cycle,
        sync.ts:472-488) — sinks must append / keep caches rather than
        re-initialize."""


def parse_retry_after(value: str | None, default_ms: int = 1000) -> int:
    """Robust Retry-After → milliseconds: integer/float seconds or an
    RFC 9110 HTTP-date; unparseable values fall back to ``default_ms``."""
    if not value:
        return default_ms
    try:
        return max(0, int(float(value) * 1000))
    except (TypeError, ValueError):
        pass
    try:
        from email.utils import parsedate_to_datetime
        import datetime as _dt

        target = parsedate_to_datetime(value)
        delta = (target - _dt.datetime.now(_dt.timezone.utc)).total_seconds()
        return max(0, int(delta * 1000))
    except Exception:  # noqa: BLE001 - malformed header → default backoff
        return default_ms


class RowError(RuntimeError):
    """A PER-ROW delivery failure: the destination rejected this specific
    row (validation error, 4xx for this record). The engine counts the row
    failed and CONTINUES — the reference's per-row catch (std.ts:147-175).
    Anything a sink does NOT wrap in RowError (network down, batch flush
    crash) still aborts the sync without persisting the cursor, so bulk
    losses are never silently skipped past."""


class RetryingClient:
    """Transparent proxy wrapping every method of an API client in the
    rate-limit retry loop — for clients whose transport raises
    RateLimitError (e.g. on HTTP 429)."""

    def __init__(self, client: Any) -> None:
        self._client = client

    def __getattr__(self, name: str):
        attr = getattr(self._client, name)
        if not callable(attr):
            return attr

        def wrapped(*args, **kwargs):
            return with_rate_limit_retry(attr, *args, **kwargs)

        return wrapped


def with_rate_limit_retry(fn, *args, max_retries: int = MAX_RATE_LIMIT_RETRIES, **kwargs):
    """Engine-side sleep-and-retry loop honoring retry-after
    (std.ts:147-167)."""
    attempt = 0
    while True:
        try:
            return fn(*args, **kwargs)
        except RateLimitError as e:
            attempt += 1
            if attempt > max_retries:
                raise HaltError(f"rate limit retries exhausted: {e}") from e
            time.sleep(e.retry_after_ms / 1000.0)


def split_known_columns(
    row: dict[str, Any], declared: set[str]
) -> tuple[dict[str, Any], dict[str, Any]]:
    """pick/omit split of declared vs custom-attribute columns
    (intercom/src/index.ts:217-221; hubspot custom-attribute path)."""
    known = {k: v for k, v in row.items() if k in declared}
    custom = {k: v for k, v in row.items() if k not in declared}
    return known, custom


class StoreIdMap:
    """In-memory cache over a state-store prefix — the CRM sinks' external-id
    → destination-id map (hubspot index.ts:169-190; intercom contactsMap /
    companiesMap). One implementation, shared: the '::' key parsing and
    prefix layout must stay in lockstep with the state store."""

    def __init__(self, store: Any, sync_id: str, map_name: str) -> None:
        self._store = store
        self._prefix = [f"syncId={sync_id}", map_name]
        self._cache: dict[str, str] = {
            key.split("::")[-1]: value for key, value in store.list(self._prefix)
        }

    def get(self, external_id: str) -> str | None:
        return self._cache.get(external_id)

    def set(self, external_id: str, destination_id: str) -> None:
        if self._cache.get(external_id) != destination_id:
            self._cache[external_id] = destination_id
            self._store.set([*self._prefix, external_id], destination_id)


ANY_OBJECT_SCHEMA: dict[str, Any] = {"type": "object", "additionalProperties": True}
