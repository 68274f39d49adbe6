"""The three workloads. Each has ``setup`` (everything before the first
timed round, warm-up included), ``prepare`` (untimed input change before a
round), ``round`` (the timed work), ``check`` (the round's output check, untimed) and ``final_checks``
(end-of-run checks, each one counted as an attempted operation).

Every round does the same work, however many rounds came before it:
``prepare`` puts the sync state or the streaming state back to the snapshot
taken after set-up and admits the same new input. A faster engine fits more
rounds into a run, never heavier ones.

The destinations are in-process: an HTTP receiver that keeps each request
body and a fake HubSpot client that records its calls. Neither opens a
socket, so no loopback time enters a round.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass
from typing import Any, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spans import Tracer, instrument_sync


@dataclass
class Context:
    spark: Any
    tracer: Tracer
    run_dir: str
    seed: int
    tables: dict[str, pa.Table]


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    warmup_rounds = 0

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        # one-off timings recorded during setup (build_s, ...)
        self.extra: dict[str, float] = {}
        # set-up time spent on the benchmark's own work, not the engine's
        self.own_s = 0.0

    @contextlib.contextmanager
    def own(self) -> Iterator[None]:
        """Time the benchmark's own set-up work (input slices, expected
        values, snapshots); run.py takes it out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0

    def setup(self) -> None: ...

    def instrument(self) -> None:
        """Patch the layer boundaries this workload crosses (traced rounds)."""

    def prepare(self, i: int) -> None: ...

    def round(self, i: int) -> dict[str, float]:
        """The timed work. Returns ``rows`` (delivered or ingested) plus any
        sub-timings (``<part>_s``), whose medians the report lists."""
        raise NotImplementedError

    def check(self, i: int) -> None: ...

    def final_checks(self) -> list[tuple[str, Any]]:
        return []

    def round_metrics(self, i: int) -> dict[str, float]:
        """Per-round readings beyond the spans (traced rounds only)."""
        return {}


# -- the sync workloads ---------------------------------------------------

class HttpReceiver:
    """The ``http`` destination's transport: keeps every request body; the
    round's check decodes them after the timed region."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.bodies: list[str] = []

    def __call__(self, method: str, url: str, headers: dict, body: str) -> None:
        with self.tracer.span("sinks.dest", keep=False):
            self.tracer.count("sinks.api_calls.post")
            self.bodies.append(body)


class FakeHubspot:
    """An in-memory HubSpot CRM: contacts by id, with an external-id index
    for search."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.properties = {"email", "firstname", "lastname"}
        self.objects: dict[str, dict] = {}
        self.by_external: dict[str, str] = {}
        self.delivered: list[dict] = []
        self.calls: Counter = Counter()

    def snapshot(self) -> tuple:
        return dict(self.objects), dict(self.by_external), set(self.properties)

    def restore(self, snap: tuple) -> None:
        objects, by_external, properties = snap
        self.objects, self.by_external = dict(objects), dict(by_external)
        self.properties = set(properties)
        self.delivered = []

    def _call(self, kind: str):
        self.calls[kind] += 1
        self.tracer.count(f"sinks.api_calls.{kind}")
        return self.tracer.span("sinks.dest", keep=False)

    def get_all_properties(self, model: str) -> list[str]:
        with self._call("properties"):
            return sorted(self.properties)

    def create_property(self, model: str, name: str) -> None:
        with self._call("properties"):
            self.properties.add(name)

    def search_by_field(self, model: str, field: str, value: str) -> str | None:
        with self._call("search"):
            return self.by_external.get(value)

    def create(self, model: str, properties: dict) -> str:
        with self._call("create"):
            object_id = str(len(self.objects) + 1)
            self.objects[object_id] = properties
            self.by_external[properties["external_id"]] = object_id
            self.delivered.append(properties)
            return object_id

    def update(self, model: str, object_id: str, properties: dict) -> str:
        from syncmaven_spark.sinks.hubspot import NotFound

        with self._call("update"):
            if object_id not in self.objects:
                raise NotFound(object_id)
            self.objects[object_id] = properties
            self.delivered.append(properties)
            return object_id

    def associate(self, company_id: str, contact_id: str) -> None:
        with self._call("associate"):
            pass


def _iso_millis(ts: pa.Array) -> np.ndarray:
    """Expected wire form of a timestamp column: ISO-8601, ms, ``Z``."""
    s = ts.to_pandas().dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
    return (s.str[:-3] + "Z").to_numpy()


class SyncBulk(Workload):
    """Full-refresh parity sync of the whole ``events`` table into the
    ``http`` destination (array batches of 500)."""

    name = "sync_bulk"
    tables = ("events",)
    # the first round of a process is cold (6.7-11 s); over ten runs the
    # second (5.1-7.2 s) was as fast as the third (5.5-7.4 s)
    warmup_rounds = 1
    BATCH = 500

    def setup(self) -> None:
        from syncmaven_spark.runner import ModelDefinition, SyncDefinition

        ev = self.ctx.tables["events"]
        with self.own():
            self.expected = {
                "user_id": ev["user_id"].to_numpy(),
                "event_type": ev["event_type"].to_numpy(zero_copy_only=False),
                "value": ev["value"].to_numpy(),
                "props": ev["props"].to_numpy(zero_copy_only=False),
                "ts": _iso_millis(ev["ts"]),
            }
        self.receiver = HttpReceiver(self.tracer)
        self.sync = SyncDefinition(
            id="bulk",
            model=ModelDefinition(
                id="events_all",
                query=(
                    "SELECT event_id, ts, user_id, event_type, value, props FROM events "
                    "WHERE :cursor IS NULL OR event_id >= :cursor ORDER BY event_id"
                ),
                cursor="event_id",
            ),
            destination="http",
            stream="default",
            credentials={
                "url": "inproc://receiver/events",
                "format": "array",
                "batchSize": self.BATCH,
                "_transport": self.receiver,
            },
            options={"checkpointEvery": 10_000},
        )

    def instrument(self) -> None:
        from syncmaven_spark.sinks.http import HttpBatchStream

        instrument_sync(self.tracer, [HttpBatchStream], self.store)

    def prepare(self, i: int) -> None:
        from syncmaven_spark.state import create_store

        self.receiver.bodies = []
        state_dir = os.path.join(self.ctx.run_dir, "bulk_state")
        shutil.rmtree(state_dir, ignore_errors=True)
        self.store = create_store(state_dir)

    def round(self, i: int) -> dict[str, float]:
        from syncmaven_spark.runner import run_sync

        with self.tracer.span("runner.run_sync"):
            self.result = run_sync(self.spark, self.sync, self.store, full_refresh=True)
        return {"rows": self.result.stats.success}

    def check(self, i: int) -> None:
        from syncmaven_spark.cursor import load_cursor

        rows = []
        for body in self.receiver.bodies:
            batch = json.loads(body)
            if not 0 < len(batch) <= self.BATCH:
                raise AssertionError(f"batch of {len(batch)} rows")
            rows.extend(batch)
        n = len(self.expected["user_id"])
        ids = np.array([r["event_id"] for r in rows])
        if len(ids) != n or not np.array_equal(ids, np.arange(n)):
            raise AssertionError(f"received {len(ids)} rows, not event_id 0..{n - 1} in order")
        for col, want in self.expected.items():
            got = np.array([r[col] for r in rows], dtype=want.dtype)
            if not np.array_equal(got, want):
                raise AssertionError(f"column {col} differs from the source")
        cursor = load_cursor(self.store, "bulk", "event_id")
        if cursor != n - 1 or self.result.last_cursor != n - 1:
            raise AssertionError(f"final cursor {cursor}, expected {n - 1}")
        if self.result.stats.success != n:
            raise AssertionError(f"stats {self.result.stats.as_dict()}")
        self.store.close()


class SyncTrickle(Workload):
    """Incremental syncs into HubSpot ``contacts`` keyed by ``user_id``.
    Set-up loads INITIAL events; each round then syncs DELTA new events
    from the state (cursor, ID map, CRM contents) left by that load."""

    name = "sync_trickle"
    tables = ("events",)
    # rounds keep getting faster for about the first 12 of a process
    # (0.6-0.8 s down to 0.35-0.45 s, JVM JIT)
    warmup_rounds = 12
    INITIAL, DELTA = 1000, 200

    def setup(self) -> None:
        from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync
        from syncmaven_spark.state import create_store

        rng = np.random.default_rng(self.ctx.seed)
        self.lo = int(rng.integers(10_000, 40_000))
        self.hi = self.lo + self.INITIAL
        self._admit()
        self.client = FakeHubspot(self.tracer)
        self.state_dir = os.path.join(self.ctx.run_dir, "trickle_state")
        self.store = create_store(self.state_dir)
        self.sync = SyncDefinition(
            id="trickle",
            model=ModelDefinition(
                id="contacts",
                query=(
                    "SELECT event_id, user_id AS id, "
                    "concat('user', CAST(user_id AS STRING), '@example.com') AS email, "
                    "event_type, value FROM events_live "
                    "WHERE :cursor IS NULL OR event_id >= :cursor ORDER BY event_id"
                ),
                cursor="event_id",
            ),
            destination="hubspot",
            stream="contacts",
            credentials={"accessToken": "unused", "_client": self.client},
        )
        result = run_sync(self.spark, self.sync, self.store)
        if result.stats.success != self.INITIAL:
            raise AssertionError(f"initial load delivered {result.stats.as_dict()}")
        with self.own():
            self.store.close()
            self.snapshot_dir = os.path.join(self.ctx.run_dir, "trickle_snapshot")
            shutil.copytree(self.state_dir, self.snapshot_dir)
            self.client_snapshot = self.client.snapshot()
        self.boundary = self.hi - 1
        self.hi += self.DELTA
        self._admit()

    def _admit(self) -> None:
        self.spark.sql(
            "CREATE OR REPLACE TEMP VIEW events_live AS SELECT * FROM events "
            f"WHERE event_id >= {self.lo} AND event_id < {self.hi}"
        )

    def instrument(self) -> None:
        from syncmaven_spark.sinks.hubspot import HubspotContactsStream

        instrument_sync(self.tracer, [HubspotContactsStream], self.store)

    def prepare(self, i: int) -> None:
        from syncmaven_spark.state import create_store

        self.store.close()
        shutil.rmtree(self.state_dir)
        shutil.copytree(self.snapshot_dir, self.state_dir)
        self.store = create_store(self.state_dir)
        self.client.restore(self.client_snapshot)
        self.calls_before = Counter(self.client.calls)

    def round(self, i: int) -> dict[str, float]:
        from syncmaven_spark.runner import run_sync

        with self.tracer.span("runner.run_sync"):
            self.result = run_sync(self.spark, self.sync, self.store)
        return {"rows": self.result.stats.success}

    def check(self, i: int) -> None:
        from syncmaven_spark.cursor import load_cursor

        want = list(range(self.boundary, self.hi))
        got = sorted(int(p["event_id"]) for p in self.client.delivered)
        if got != want:
            raise AssertionError(f"delivered {len(got)} events, expected {self.boundary}..{self.hi - 1}")
        calls = self.client.calls - self.calls_before
        if calls["create"] + calls["update"] != len(want):
            raise AssertionError(f"api calls {dict(calls)} for {len(want)} rows")
        self.extra["creates_per_round"] = calls["create"]
        if load_cursor(self.store, "trickle", "event_id") != self.hi - 1:
            raise AssertionError("cursor not advanced to the last admitted event")


# -- the streaming-index workload -----------------------------------------

def seeded_order(ids: np.ndarray, seed: int) -> np.ndarray:
    """``ids`` ordered by a seeded hash of each id: which documents and
    vectors form the base corpus and which arrive in a round."""
    h = (ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ np.uint64((seed * 0x85EBCA6B + 1) % 2**64)
    h ^= h >> np.uint64(31)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(29)
    return ids[np.argsort(h, kind="stable")]


class IndexStream(Workload):
    """Per round: one MinHash near-dup epoch over DOCS new documents, one
    IVF-PQ epoch over VECS new vectors, then the read side: a probe for a
    fixed query set and ``read_pairs``. Each round starts from the state
    set-up leaves (base corpus plus a warm-up slice) and ingests the same
    slice."""

    name = "index_stream"
    tables = ("documents", "embeddings")
    BASE_DOCS, WARM_DOCS, DOCS = 1000, 100, 500
    BASE_VECS, WARM_VECS, VECS = 600, 100, 400
    N_QUERIES, K = 32, 5
    NEAR_DUP = dict(threshold=0.7, num_perm=64, bands=32, shingle_k=3, max_bucket_size=None)
    ANN = dict(n_centroids=16, m=32, n_codes=256)
    # the directories a round writes; prepare() restores them from set-up
    STATE = ("doc_src", "doc_state", "doc_ckpt", "vec_src", "vec_state", "vec_ckpt")

    def setup(self) -> None:
        from syncmaven_spark.streaming import prepare_ann_state

        seed, run_dir = self.ctx.seed, self.ctx.run_dir
        docs, vecs = self.ctx.tables["documents"], self.ctx.tables["embeddings"]
        self.dirs = {k: os.path.join(run_dir, k) for k in self.STATE}
        self.snapshot = os.path.join(run_dir, "index_snapshot")
        with self.own():
            self.docs = docs.take(seeded_order(np.arange(docs.num_rows), seed))
            self.vecs = vecs.take(seeded_order(np.arange(vecs.num_rows), seed + 1))
            for k in ("doc_src", "vec_src"):
                os.makedirs(self.dirs[k])
            rng = np.random.default_rng(seed)
            base = np.stack(self.vecs["embedding"].to_numpy(zero_copy_only=False)[: self.BASE_VECS])
            picks = rng.choice(self.BASE_VECS, self.N_QUERIES, replace=False)
            self.query_vecs = base[picks] + 0.05 * rng.standard_normal(base[picks].shape)
            self.queries = self.spark.createDataFrame(
                [(1_000_000 + i, [float(x) for x in v]) for i, v in enumerate(self.query_vecs)],
                "vec_id long, embedding array<float>",
            ).cache()
            self.queries.count()
            base_path = os.path.join(run_dir, "base_vecs.parquet")
            pq.write_table(self.vecs.slice(0, self.BASE_VECS), base_path)
            self._add(self.docs, 0, self.BASE_DOCS, "doc_src", "docs")
            self.doc_schema = self.spark.read.parquet(self.dirs["doc_src"]).schema
            self.vec_schema = self.spark.read.parquet(base_path).schema

        t0 = time.perf_counter()
        prepare_ann_state(
            self.spark, self.spark.read.parquet(base_path), self.dirs["vec_state"],
            seed=seed, **self.ANN,
        )
        t1 = time.perf_counter()
        self._neardup_epoch()
        self.extra["streaming.ann_prepare_s"] = t1 - t0
        self.extra["build_s"] = time.perf_counter() - t0
        self.n_docs, self.n_vecs = self.BASE_DOCS, self.BASE_VECS

        # warm-up epochs on a small slice, then the read side once; the
        # state they leave is what every round starts from
        with self.own():
            self._ingest(self.WARM_DOCS, self.WARM_VECS)
        t0 = time.perf_counter()
        self.round(-1)
        self.extra["warmup_round_s"] = time.perf_counter() - t0
        with self.own():
            self.check(-1)
            for k, path in self.dirs.items():
                shutil.copytree(path, os.path.join(self.snapshot, k))
        self.base_docs, self.base_vecs = self.n_docs, self.n_vecs

    def _add(self, table: pa.Table, start: int, n: int, key: str, name: str) -> None:
        if start + n > table.num_rows:
            raise RuntimeError(f"{name}: rows {start}..{start + n} exceed the table")
        # the stream's file source skips dot-files, so it sees the slice only
        # once the rename has completed it
        src = self.dirs[key]
        tmp = os.path.join(src, f".{name}_{start}.parquet")
        pq.write_table(table.slice(start, n), tmp)
        os.replace(tmp, os.path.join(src, f"{name}_{start:06d}.parquet"))

    def _neardup_epoch(self) -> None:
        from syncmaven_spark.streaming import run_streaming_near_dup_sync

        with self.tracer.span("streaming.neardup_epoch"):
            run_streaming_near_dup_sync(
                self.spark, self.dirs["doc_src"], self.doc_schema, self.dirs["doc_state"],
                self.dirs["doc_ckpt"], text_col="text", id_col="doc_id", **self.NEAR_DUP,
            )

    def _ingest(self, n_docs: int, n_vecs: int) -> None:
        self._add(self.docs, self.n_docs, n_docs, "doc_src", "docs")
        self._add(self.vecs, self.n_vecs, n_vecs, "vec_src", "vecs")
        self.n_docs += n_docs
        self.n_vecs += n_vecs

    def prepare(self, i: int) -> None:
        # fresh mtimes, as a live stream's files would have
        for k, path in self.dirs.items():
            shutil.rmtree(path)
            shutil.copytree(os.path.join(self.snapshot, k), path, copy_function=shutil.copy)
        self.n_docs, self.n_vecs = self.base_docs, self.base_vecs
        self._ingest(self.DOCS, self.VECS)

    def round(self, i: int) -> dict[str, float]:
        from syncmaven_spark.streaming import probe_ann_store, read_pairs, run_streaming_ann_sync

        t0 = time.perf_counter()
        self._neardup_epoch()
        with self.tracer.span("streaming.ann_epoch"):
            run_streaming_ann_sync(
                self.spark, self.dirs["vec_src"], self.vec_schema, self.dirs["vec_state"],
                self.dirs["vec_ckpt"],
            )
        t1 = time.perf_counter()
        with self.tracer.span("streaming.probe"):
            self.probe = probe_ann_store(
                self.spark, self.queries, self.dirs["vec_state"], k=self.K, n_probe=4
            ).collect()
        t2 = time.perf_counter()
        with self.tracer.span("streaming.read_pairs"):
            self.pairs = read_pairs(self.spark, self.dirs["doc_state"]).collect()
        return {"rows": self.DOCS + self.VECS, "ingest_s": t1 - t0, "probe_s": t2 - t1}

    def check(self, i: int) -> None:
        per_query = Counter(r.q_id for r in self.probe)
        if len(per_query) != self.N_QUERIES or set(per_query.values()) != {self.K}:
            raise AssertionError(f"probe returned {dict(per_query)}; expected {self.K} per query")

    def round_metrics(self, i: int) -> dict[str, float]:
        files = size = 0
        for key in ("doc_state", "vec_state"):
            for root, _, names in os.walk(self.dirs[key]):
                files += len(names)
                size += sum(os.path.getsize(os.path.join(root, n)) for n in names)
        return {"streaming.state_files": files, "streaming.state_bytes": size}

    def final_checks(self) -> list[tuple[str, Any]]:
        return [("ann_recall", self._check_recall), ("pairs_match_batch", self._check_pairs)]

    def _check_recall(self) -> None:
        corpus = np.stack(self.vecs["embedding"].to_numpy(zero_copy_only=False)[: self.n_vecs])
        ids = self.vecs["vec_id"].to_numpy()[: self.n_vecs]
        cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
        qn = self.query_vecs / np.linalg.norm(self.query_vecs, axis=1, keepdims=True)
        top = np.argsort(-(qn @ cn.T), axis=1)[:, : self.K]
        exact = {(1_000_000 + q, int(ids[j])) for q in range(self.N_QUERIES) for j in top[q]}
        got = {(r.q_id, r.n_id) for r in self.probe}
        recall = len(exact & got) / len(exact)
        self.extra["ann_recall"] = recall
        if recall < 0.5:
            raise AssertionError(f"ANN recall {recall:.3f} < 0.5 against brute force")

    def _check_pairs(self) -> None:
        from syncmaven_spark.operators import minhash_verified_pairs

        corpus = self.spark.read.parquet(self.dirs["doc_src"])
        batch = {
            (r.id_a, r.id_b)
            for r in minhash_verified_pairs(corpus, "text", "doc_id", **self.NEAR_DUP).collect()
        }
        streamed = {(r.id_a, r.id_b) for r in self.pairs}
        self.extra["pairs"] = len(streamed)
        if streamed != batch or not batch:
            raise AssertionError(
                f"read_pairs has {len(streamed)} pairs, the batch pass {len(batch)}; "
                f"{len(streamed ^ batch)} differ"
            )


WORKLOADS = {w.name: w for w in (SyncBulk, SyncTrickle, IndexStream)}
