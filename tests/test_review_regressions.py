"""Regression tests for code-review findings across the sinks, the runner,
cursors, SQL parameters, dedup, similarity and the multimodal
operators."""

import datetime as dt
import glob
import json

import numpy as np
import pytest

from syncmaven_spark.cursor import (
    CursorError,
    deserialize_cursor,
    serialize_cursor,
)
from syncmaven_spark.operators.graph import dedup_cluster_assignments
from syncmaven_spark.operators.multimodal import (
    extract_features,
    sample_video_frames,
)
from syncmaven_spark.oracle import compare
from syncmaven_spark.project import read_project
from syncmaven_spark.queries import CATALOG
from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync
from syncmaven_spark.sinks.base import RateLimitError, parse_retry_after
from syncmaven_spark.sinks.google_sheets import GoogleSheetsDestination
from syncmaven_spark.sinks.intercom import (
    IntercomDestination,
    to_epoch_seconds,
)
from syncmaven_spark.sql import SqlQuery
from syncmaven_spark.state import InMemoryStore
from tests.conftest import SF_SMOKE


def test_sheets_buffer_survives_checkpoint_restarts(spark, tmp_path):
    class FakeSheets:
        def __init__(self):
            self.writes = []

        def write_table(self, ss, sheet, header, rows):
            self.writes.append(list(rows))

    client = FakeSheets()
    spark.sql("select id from range(25)").createOrReplaceTempView("sheet_src")
    sync = SyncDefinition(
        id="sheets_ckpt",
        model=ModelDefinition(id="m", query="select id from sheet_src order by id"),
        destination=GoogleSheetsDestination(),
        stream="sheet",
        credentials={"_client": client, "spreadsheetId": "ss"},
        options={"checkpointEvery": 10},
    )
    result = run_sync(spark, sync, InMemoryStore())
    # clear-and-rewrite semantics: the final write holds ALL 25 rows, not
    # just the post-checkpoint tail; stats are not double-counted
    assert len(client.writes[-1]) == 25
    assert result.stats.success == 25
    assert result.stats.received == 25


def test_project_enrichments_compiled(tmp_path):
    from syncmaven_spark.enrich import HttpEnrichment

    (tmp_path / "models").mkdir()
    (tmp_path / "syncs").mkdir()
    (tmp_path / "models" / "m.sql").write_text("select 1 as x")
    (tmp_path / "syncs" / "s.yaml").write_text(
        "model: m\ndestination:\n  package: file\n  credentials:\n"
        "    filename: /tmp/x.ndjson\nenrichment:\n  url: http://enrich.test/api\n"
    )
    project = read_project(str(tmp_path), env={})
    enrichments = project.syncs["s"].enrichments
    assert len(enrichments) == 1
    assert isinstance(enrichments[0], HttpEnrichment)
    assert enrichments[0].url == "http://enrich.test/api"


def test_parse_retry_after_variants():
    assert parse_retry_after("2") == 2000
    assert parse_retry_after("1.5") == 1500
    assert parse_retry_after(None) == 1000
    assert parse_retry_after("garbage") == 1000
    # HTTP-date in the past → clamped to 0 (retry immediately)
    assert parse_retry_after("Fri, 31 Dec 1999 23:59:59 GMT") == 0


def test_pivot_missing_cells_match_oracle(spark, tmp_path):
    """A user lacking one event type must yield 0 (not NULL) on both sides —
    the sf0.001/sf0.01 testdata never exercises this cell."""
    import duckdb

    rows = [
        (1, "click", 5.0), (1, "view", 2.0),  # user 1 has NO purchase
        (2, "click", 1.0), (2, "view", 3.0), (2, "purchase", 9.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, value double")
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet')")
    # _pivot mirrors the catalog's Spark side over the same five rows
    pivoted = _pivot(spark.read.parquet(path))
    result = compare("rel_pivot", pivoted, con, CATALOG["rel_pivot"].oracle)
    assert result.ok, result.detail
    # the previously-buggy cell: user 1 has no purchases → 0.0, not NULL
    row = {r.user_id: r.purchase for r in pivoted.collect()}
    assert row[1] == 0.0


def _pivot(events):
    from pyspark.sql import functions as F

    pivoted = (
        events
        .groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.round(F.sum("value"), 2))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in ("click", "view", "purchase")],
    )


def test_exact_dedup_null_position_is_distinct(spark):
    """Concat_ws skips NULLs, so ('x', NULL) and (NULL,
    'x') hashed identically and a distinct row was dropped as a duplicate;
    the JSON-struct key keeps them apart (and kills separator injection:
    ('a\\x1fb','c') vs ('a','b\\x1fc'))."""
    from syncmaven_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "x", None), (2, None, "x"), (3, "x", None),
         (4, "a\x1fb", "c"), (5, "a", "b\x1fc")],
        "id long, a string, b string",
    )
    kept = exact_dedup(df, ["a", "b"], "id").collect()
    by_id = {r.id: r.is_duplicate_group for r in kept}
    assert set(by_id) == {1, 2, 4, 5}  # only the true duplicate (3) drops
    assert by_id[1] is True and by_id[2] is False
    assert by_id[4] is False and by_id[5] is False


def test_simhash_exact_signature_blocking(spark):
    """max_hamming=0 (single 64-bit chunk) no longer overflows the long
    literal; identical texts pair, near-identical do not."""
    from syncmaven_spark.operators.dedup import simhash_near_dups

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "an utterly different document about spark engines")],
        "doc_id long, text string",
    )
    pairs = simhash_near_dups(df, "text", "doc_id", max_hamming=0).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_empty_text_scores_zero_tokens(spark):
    """split('') returns [''] of size 1: empty/whitespace docs must count
    0 tokens and score 0 quality, not sneak through filters."""
    from syncmaven_spark.operators.text import quality_features, token_count

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real words here")], "doc_id long, text string"
    )
    toks = {r.doc_id: (r.n_tokens, r.n_bpe_tokens) for r in token_count(df).collect()}
    assert toks[1] == (0, 0) and toks[2] == (0, 0)
    assert toks[3][0] == 3
    q = {r.doc_id: (r.q_n_words, r.q_distinct_ratio, r.quality_score)
         for r in quality_features(df).collect()}
    assert q[1] == (0, 0.0, 0.0) and q[2] == (0, 0.0, 0.0)
    assert q[3][0] == 3 and q[3][2] > 0


def test_language_id_handles_punctuation_and_repeats(spark):
    """Stopwords adjacent to punctuation/newlines count, and adjacent
    repeats don't lose hits to the shared separating space."""
    from syncmaven_spark.operators.text import language_id

    df = spark.createDataFrame(
        [(1, "the\ncat sat on the mat."), (2, "the the the")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.score_en, r.lang_pred) for r in language_id(df).collect()}
    assert out[1][0] == 2 and out[1][1] == "en"
    assert out[2][0] == 3


def test_cursor_survives_non_utc_driver_host(tmp_path):
    """PySpark's non-Arrow driver conversion builds naive datetimes in the
    OS timezone, ignoring spark.sql.session.timeZone — on a UTC+X host the
    persisted timestamp cursor shifted by X hours and the next incremental
    run silently skipped rows. get_spark pins the PROCESS to UTC; this
    runs a sync in a subprocess that starts in America/New_York and
    asserts the persisted cursor equals the true UTC max."""
    import json
    import os
    import subprocess
    import sys

    import duckdb

    from tests.conftest import REPO_ROOT, SF_SMOKE

    true_max = duckdb.sql(
        "select strftime(max(ts), '%Y-%m-%dT%H:%M:%S.%g') || 'Z' "
        f"from '{SF_SMOKE}/events.parquet'"
    ).fetchone()[0]

    script = f"""
import sys; sys.path.insert(0, {REPO_ROOT!r})
from syncmaven_spark import get_spark
from syncmaven_spark.session import load_tables
from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync
from syncmaven_spark.state import InMemoryStore
spark = get_spark(shuffle_partitions=2)
load_tables(spark, {SF_SMOKE!r})
store = InMemoryStore()
sync = SyncDefinition(
    id="tz", model=ModelDefinition(id="m",
        query="select event_id, ts from events where :cursor is null or ts >= :cursor",
        cursor="ts"),
    destination="file", stream="raw",
    credentials={{"filename": {str(tmp_path / 'o.ndjson')!r}}})
run_sync(spark, sync, store)
import json as j
print("CURSOR=" + j.dumps(store.get(["syncId=tz", "$lastCursor=ts"])))
"""
    env = dict(os.environ, TZ="America/New_York")
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("CURSOR=")][0]
    stored = json.loads(line[len("CURSOR="):])
    assert stored["val"] == true_max, (stored, true_max)


def test_ndjson_distributed_scrubs_nested_nonfinite(spark, tmp_path):
    """NaN/Infinity inside struct/array/map fields must
    serialize as null (JSON.stringify semantics), not literal NaN."""
    import math

    from pyspark.sql import functions as F

    from syncmaven_spark.sinks.file import write_ndjson_distributed

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [
            (1, nan, {"a": nan, "b": 2.0}, [1.0, inf, 3.0], {"k": nan}, None),
            (2, 5.0, None, None, None, {"a": 1.5, "b": 1.0}),
        ],
        "id long, top double, s struct<a:double,b:double>, "
        "arr array<double>, m map<string,double>, s2 struct<a:double,b:double>",
    ).repartition(1)
    out = str(tmp_path / "nested")
    write_ndjson_distributed(df, out)
    lines = []
    for p in glob.glob(out + "/part-*"):
        with open(p) as f:
            lines += [json.loads(ln) for ln in f if ln.strip()]  # must PARSE
    rows = {r["id"]: r for r in lines}
    assert rows[1]["top"] is None
    assert rows[1]["s"] == {"a": None, "b": 2.0}
    assert rows[1]["arr"] == [1.0, None, 3.0]
    assert rows[1]["m"] == {"k": None}
    assert rows[1]["s2"] is None  # NULL struct stays NULL, not {a:null,...}
    assert rows[2]["top"] == 5.0 and rows[2]["s"] is None
    assert rows[2]["s2"] == {"a": 1.5, "b": 1.0}


def test_no_tzset_env_var_skips_process_tz_mutation(spark, monkeypatch):
    """Embedders can opt out of the process-global TZ pin."""
    import os

    from syncmaven_spark.session import load_tables

    monkeypatch.setenv("SYNCMAVEN_SPARK_NO_TZSET", "1")
    # do NOT tzset() with this value — only the env mapping is probed
    monkeypatch.setenv("TZ", "America/New_York")
    load_tables(spark, SF_SMOKE, refresh=True)
    assert os.environ["TZ"] == "America/New_York", (
        "load_tables must not overwrite TZ when the opt-out is set"
    )


def test_sheets_append_rejects_nested_values_like_buffered_mode():
    class C:
        def write_table(self, *a): ...
        def append_rows(self, *a): ...

    out = GoogleSheetsDestination().create_output_stream(
        "sheet", {"_client": C(), "spreadsheetId": "s"}, "sx",
        InMemoryStore(),
        options={"streamingAppend": True, "appendBatchSize": 1},
    )
    with pytest.raises(ValueError, match="Invalid value"):
        out.handle_row({"a": {"nested": 1}})


def test_audio_features_short_clip_has_no_nan():
    """A valid 0- or 1-frame WAV produced an
    all-NaN feature vector (np.mean of an empty diff) with decode_ok=True —
    and NaN sorts above every double in Spark, so the clip became a
    'near-duplicate' of the whole corpus downstream."""
    import io
    import wave

    import numpy as np

    from syncmaven_spark.operators.multimodal import _audio_features, decode_wav

    for n_frames in (0, 1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(b"\x01\x00" * n_frames)
        samples, rate = decode_wav(buf.getvalue())
        feats = _audio_features(samples, rate, 16)
        assert np.isfinite(feats).all(), f"NaN/inf at n_frames={n_frames}"


def test_cc_loop_confs_isolated_from_caller_session(spark, tmp_path):
    """The small-round conf tuning (AQE off,
    shuffle.partitions ~ edges/2M) used to mutate the CALLER's session for
    the duration of each round, so a query planned concurrently by another
    thread silently ran with 1-3 shuffle partitions and no AQE. The loop
    now runs on a private session; the caller's confs must be untouched at
    every point the loop yields control, and the result must belong to the
    caller's session."""
    from syncmaven_spark.operators.graph import (
        _loop_session,
        connected_components,
    )

    loop = _loop_session(spark)
    assert loop is not spark  # classic mode: a genuinely private session
    # the confs the rounds depend on are copied from the caller
    for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
              "spark.sql.session.timeZone"):
        assert loop.conf.get(k) == spark.conf.get(k)

    orig = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    # chain forces several distributed rounds (local finish disabled)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    out = connected_components(
        edges, work_dir=str(tmp_path), local_finish_edges=0
    )
    rows = {r["v"]: r["component"] for r in out.collect()}
    assert rows == {i: 0 for i in range(41)}
    assert out.sparkSession is spark
    for k, v in orig.items():
        assert spark.conf.get(k) == v


def test_dedup_cluster_assignments_forwards_cc_kwargs(spark, tmp_path):
    """The pipeline entry point hardcoded
    connected_components defaults, so a multi-node caller could not point
    work_dir at shared storage (the module's own cluster requirement)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(31)], "id long")
    out = dedup_cluster_assignments(
        pairs, ids, work_dir=str(tmp_path), local_finish_edges=0
    )
    assert out.filter("is_canonical").count() == 1
    # the distributed loop actually used the supplied directory
    assert (tmp_path / "labels").exists()


def test_tfidf_cache_lives_in_bounded_pool(spark):
    """Text_tfidf_topterms kept a bespoke module
    global whose bytes counted toward the pool budget but which the pool
    could never evict, and whose eager unpersist yanked the cache from a
    still-pending prior result. It now goes through persist_scoped, which
    dedups re-invocations by plan equivalence."""
    import syncmaven_spark.queries as q
    from syncmaven_spark.operators.cache import _LIVE_CACHES

    assert not hasattr(q, "_TFIDF_CACHE")
    q.text_tfidf_topterms(spark, SF_SMOKE).limit(1).collect()
    n_after_first = len(_LIVE_CACHES)
    q.text_tfidf_topterms(spark, SF_SMOKE).limit(1).collect()
    # plan-equivalent re-invocation refreshes, never appends a duplicate
    assert len(_LIVE_CACHES) == n_after_first


def test_param_followed_by_pg_cast_is_recognized():
    """The '::'-cast guard also skipped a parameter
    FOLLOWED by a cast — ':cursor::timestamptz' discovered no parameters,
    so the idiomatic postgres cursor model failed the :cursor guard."""
    q = SqlQuery(
        "select * from t where ts >= :cursor::timestamptz", "postgres"
    )
    assert q.named_parameters() == ["cursor"]
    assert "::timestamptz" in q.compile({"cursor": 5})
    assert ":cursor" not in q.compile({"cursor": 5})
    # the cast-colon guard itself still holds
    assert SqlQuery("select id::text from t", "postgres").named_parameters() == []


def test_at_params_excluded_on_conflicting_dialects():
    """'@name' was a parameter in EVERY dialect, so
    MySQL '@@sql_mode', Snowflake '@mystage', and Postgres '@ x' compiled
    their '@tokens' to NULL — broken SQL pushed to the warehouse."""
    q = SqlQuery("select @@sql_mode as m from t where id >= :c", "mysql")
    assert q.named_parameters() == ["c"]
    assert "@@sql_mode" in q.compile({"c": 1})
    q2 = SqlQuery("select * from @mystage where id >= :c", "snowflake")
    assert q2.named_parameters() == ["c"]
    assert "@mystage" in q2.compile({"c": 1})
    # BigQuery and Spark keep the @-form
    assert SqlQuery(
        "select * from t where id >= @c", "bigquery"
    ).named_parameters() == ["c"]


def test_decimal_cursor_roundtrip_and_literal():
    """Decimal cursors (an explicitly chunkable type)
    crashed json.dumps at checkpoint and encode_literal on reload."""
    import decimal

    from syncmaven_spark.sql import encode_literal

    import json as _json

    v = decimal.Decimal("12345.6789")
    stored = serialize_cursor(v)
    _json.dumps(stored)  # state stores persist via json
    assert deserialize_cursor(stored) == v
    assert encode_literal(v, "postgres") == "12345.6789"
    assert encode_literal(decimal.Decimal("1E+2"), "spark") == "100"


def test_nonfinite_cursor_and_literal_fail_fast():
    """Encode_literal(float('nan')) emitted the bare
    text 'nan' (an unresolved column reference in Spark), wedging every
    subsequent incremental run; json.dumps also wrote the non-standard
    'NaN' token into the state store."""
    from syncmaven_spark.sql import SqlError, encode_literal

    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(SqlError, match="non-finite"):
            encode_literal(bad, "spark")
        with pytest.raises(CursorError, match="finite"):
            serialize_cursor(bad)


def test_intercom_epoch_seconds_naive_string_is_utc():
    """A tz-less ISO STRING went through naive
    .timestamp() (host-local tz) while the datetime branch forces UTC —
    the same wall-clock shifted per deployment machine."""
    import os
    import time

    old = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Karachi"  # UTC+05, no DST
    time.tzset()
    try:
        got = to_epoch_seconds("2024-05-01T10:00:00")
        # naive datetime branch (already UTC-forced) must agree
        assert got == to_epoch_seconds(dt.datetime(2024, 5, 1, 10, 0, 0))
        assert got == 1714557600  # 2024-05-01T10:00:00Z
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_intercom_company_lookup_url_encodes_id():
    """Company_id interpolated raw into the query
    string — 'acme&dept=1' matched company 'acme' plus a stray param."""
    from urllib.parse import parse_qs, urlsplit

    class FakeIntercom:
        def __init__(self):
            self.gets = []

        def get(self, path):
            self.gets.append(path)
            return {"id": "ic-1"}

        def post(self, path, body):
            return {"id": "ic-c1"}

    client = FakeIntercom()
    out = IntercomDestination().create_output_stream(
        "contacts", {"_client": client}, "s1", InMemoryStore()
    )
    out.handle_row(
        {"external_id": "u1", "email": "a@b.c", "company_ids": ["acme&dept=1"]}
    )
    lookup = [g for g in client.gets if g.startswith("/companies?")]
    assert lookup, client.gets
    q = parse_qs(urlsplit(lookup[0]).query)
    assert q == {"company_id": ["acme&dept=1"]}, lookup


def test_ads_clients_map_429_to_rate_limit_error():
    """Facebook/twitter REST clients raised a bare
    HTTPError on 429, so the flush-layer rate-limit retry never engaged
    and throttling aborted the sync."""
    from syncmaven_spark.sinks.facebook_ads import RestFacebookClient
    from syncmaven_spark.sinks.twitter_ads import RestTwitterClient

    class Resp:
        status_code = 429
        headers = {"Retry-After": "2"}

    class Sess:
        def request(self, *a, **k):
            return Resp()

    fb = RestFacebookClient.__new__(RestFacebookClient)
    fb._s = Sess()
    fb.base, fb.account_id = "https://x", "act_1"
    with pytest.raises(RateLimitError) as ei:
        fb._req("GET", "https://x/y")
    assert ei.value.retry_after_ms == 2000

    tw = RestTwitterClient.__new__(RestTwitterClient)
    tw._s = Sess()
    tw.base, tw.account_id = "https://x", "1"
    with pytest.raises(RateLimitError):
        tw._req("GET", "/y")


def test_http_json_without_row_macro_warns(caplog):
    """Format='json' with no [RESULT_*] macro sends a
    constant body for every row — success counted, data dropped. Reference
    parity keeps the behavior; the config mistake must at least be loud."""
    import logging

    from syncmaven_spark.sinks.http import _HttpBase

    with caplog.at_level(logging.WARNING, "syncmaven_spark.sinks.http"):
        _HttpBase({"url": "https://h.example", "_transport": lambda *a: None})
    assert any("no [RESULT_ROWS]" in r.message for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING, "syncmaven_spark.sinks.http"):
        _HttpBase(
            {
                "url": "https://h.example",
                "body": '{"events": "[RESULT_ROWS]"}',
                "_transport": lambda *a: None,
            }
        )
    assert not caplog.records


def test_strip_userinfo_raw_at_in_password():
    """The authority was split at the FIRST '@', so a
    raw '@' inside the password corrupted both password and host. libpq /
    node-postgres split at the LAST '@' of the authority."""
    from syncmaven_spark.sources.registry import _strip_userinfo

    url, user, password = _strip_userinfo("postgres://alice:pa@ss@db:5432/app")
    assert (user, password) == ("alice", "pa@ss")
    assert url == "postgres://db:5432/app"
    # percent-encoded form still works, and no-userinfo URLs pass through
    url2, u2, p2 = _strip_userinfo("postgres://alice:p%40ss@db/app")
    assert (u2, p2) == ("alice", "p@ss") and url2 == "postgres://db/app"
    assert _strip_userinfo("postgres://db/app") == ("postgres://db/app", None, None)


def test_sheets_append_tracks_undelivered_rows():
    """The streamingAppend sheets stream re-implemented
    batching without the undelivered_rows() halt contract — a HaltError
    from the Sheets API let the cursor advance past rows that never reached
    the sheet."""
    from syncmaven_spark.sinks.base import HaltError
    from syncmaven_spark.sinks.google_sheets import GoogleSheetsAppendStream

    class FakeSheets:
        def __init__(self):
            self.tables = []
            self.fail_append = True

        def write_table(self, sid, sheet, header, rows):
            self.tables.append(("write", header, rows))

        def append_rows(self, sid, sheet, rows):
            if self.fail_append:
                raise HaltError("sheets says stop")
            self.tables.append(("append", rows))

    client = FakeSheets()
    out = GoogleSheetsAppendStream(client, "sid", "s1", batch_size=2)
    out.handle_row({"a": 1})
    out.handle_row({"a": 2})  # first flush: write_table, succeeds
    out.handle_row({"a": 3})
    with pytest.raises(HaltError):
        out.handle_row({"a": 4})  # second flush: append fails
    # the failed batch is known-undelivered; stats count it failed
    assert [r["a"] for r in out.undelivered_rows()] == [3, 4]
    assert out.stats.failed == 2 and out.stats.success == 2
    out.handle_row({"a": 5})
    assert [r["a"] for r in out.undelivered_rows()] == [3, 4, 5]


def test_load_tables_skips_stray_unreadable_parquet(spark, tmp_path):
    """Registering every *.parquet stem made ONE
    stray/corrupt artifact abort every query over the directory. Non-
    benchmark stems now skip with a warning; canonical tables still fail
    hard."""
    import os

    from syncmaven_spark.session import TABLE_NAMES, load_tables

    for name in os.listdir(SF_SMOKE):
        if name.endswith(".parquet"):
            os.link(os.path.join(SF_SMOKE, name), str(tmp_path / name))
    (tmp_path / "tmp_export.parquet").write_bytes(b"not a parquet file")

    tables = load_tables(spark, str(tmp_path), register_views=False)
    assert set(TABLE_NAMES) <= set(tables)
    assert "tmp_export" not in tables


def test_non_latin_corpus_is_not_collapsed_by_dedup(spark):
    """The ASCII-only \\w tokenizer
    deleted every CJK/Cyrillic character, so ALL such docs shingled to ['']
    and were reported as mutual jaccard-1.0 duplicates — running the
    production dedup recipe on a Chinese corpus deleted it down to one row.
    Distinct non-Latin docs must NOT pair; identical ones still must."""
    from syncmaven_spark.operators.dedup import (
        minhash_verified_pairs,
        simhash,
    )

    df = spark.createDataFrame(
        [
            (1, "今天天气很好 我们去公园 散步吧 好不好 朋友们"),
            (2, "完全不同的文本 讲的是机器学习 和分布式系统 的设计"),
            (3, "привет мир это совершенно другой текст на русском"),
            (4, "今天天气很好 我们去公园 散步吧 好不好 朋友们"),  # copy of 1
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_verified_pairs(
            df, "text", "doc_id", threshold=0.8, max_bucket_size=None
        ).collect()
    }
    assert pairs == {(1, 4)}, pairs
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df, "text", "doc_id").collect()}
    assert sigs[1] == sigs[4]
    assert len({sigs[1], sigs[2], sigs[3]}) == 3  # distinct docs, distinct sigs


def test_null_and_empty_text_never_pair(spark):
    """NULL text became the shingle [''] for k>=2, so
    NULL-text docs (failed extractions) paired with each other and with
    empty docs at jaccard 1.0."""
    from syncmaven_spark.operators.dedup import (
        minhash_verified_pairs,
        ngram_jaccard_pairs,
        simhash_near_dups,
    )

    df = spark.createDataFrame(
        [(1, None, "en"), (2, None, "en"), (3, "", "en"), (4, "?! ...", "en"),
         (5, "real words here", "en")],
        ["doc_id", "text", "lang"],
    )
    assert minhash_verified_pairs(df, "text", "doc_id", threshold=0.8).count() == 0
    assert ngram_jaccard_pairs(
        df, "text", "doc_id", ["lang"], threshold=0.5, shingle_k=1
    ).count() == 0
    assert simhash_near_dups(df, "text", "doc_id", max_hamming=8).count() == 0


def test_exact_dedup_keeps_all_null_id_groups(spark):
    """Min(id) skips NULLs and the join-back never
    matches one, so a content group whose ids were all NULL silently
    vanished — unique content lost with no error."""
    from syncmaven_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(None, "unique content"), (7, "other content"), (9, "other content"),
         (None, "more unique")],
        "id long, text string",
    )
    out = {r["text"]: (r["id"], r["is_duplicate_group"])
           for r in exact_dedup(df, ["text"], "id").collect()}
    assert out["unique content"] == (None, False)
    assert out["more unique"] == (None, False)
    assert out["other content"] == (7, True)  # lowest non-null id kept


def test_simhash_bucket_cap_bounds_degenerate_buckets(spark):
    """Identical-signature clusters drove an uncapped
    O(b^2) candidate join per chunk; the default cap bounds it the same way
    minhash_lsh_candidates' cap does (None restores exact semantics)."""
    from syncmaven_spark.operators.dedup import simhash_near_dups

    n, cap = 12, 5
    df = spark.createDataFrame(
        [(i, "same boilerplate text everywhere") for i in range(n)],
        ["doc_id", "text"],
    )
    capped = simhash_near_dups(
        df, "text", "doc_id", max_hamming=3, max_bucket_size=cap
    ).collect()
    assert len(capped) == cap * (cap - 1) // 2
    full = simhash_near_dups(
        df, "text", "doc_id", max_hamming=3, max_bucket_size=None
    ).collect()
    assert len(full) == n * (n - 1) // 2


def test_exact_pairs_null_id_does_not_crash(spark):
    """A NULL id reached the numpy kernel as an
    object-dtype array and None > int raised TypeError, killing the job."""
    from syncmaven_spark.operators.similarity import cosine_pairs_exact

    corpus = spark.createDataFrame(
        [(None, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.99, 0.05])],
        "vec_id long, embedding array<double>",
    )
    pairs = cosine_pairs_exact(corpus, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """B identical-signature vectors (zero-filled
    failed encodes) shared every table's bucket — an uncapped O(b^2)
    candidate join whose pairs verification then discarded."""
    from syncmaven_spark.operators.similarity import cosine_pairs_lsh

    n, cap = 20, 6
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    capped = cosine_pairs_lsh(
        df, threshold=0.9, n_planes=2, n_tables=2, max_bucket_size=cap
    ).collect()
    assert len(capped) == cap * (cap - 1) // 2
    full = cosine_pairs_lsh(
        df, threshold=0.9, n_planes=2, n_tables=2, max_bucket_size=None
    ).collect()
    assert len(full) == n * (n - 1) // 2


def test_extract_features_surfaces_broken_decoder(spark):
    """A systematically broken custom decoder (wrong
    arity) was swallowed per-row into decode_ok=False — a '100% successful'
    run with zero features. Programming errors now surface; NULL blobs and
    malformed bytes stay per-row tolerant."""
    # a TRUNCATED PNG (real-codec path) — unrecognized formats fall back
    # to the deterministic fake decode and would count as decode_ok=True
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\n garbage")), (2, None)],
        "id long, content binary",
    )
    # malformed + NULL blobs: tolerated per row
    ok = extract_features(df, feature_dim=4).collect()
    assert [r["decode_ok"] for r in sorted(ok, key=lambda r: r["id"])] == [
        False, False,
    ]
    # wrong-arity decoder: surfaces instead of silently nulling everything
    with pytest.raises(Exception, match="TypeError|positional"):
        extract_features(
            df, feature_dim=4, decoder=lambda blob: [0.0]
        ).collect()


def test_sample_video_frames_rejects_nonpositive_interval(spark):
    df = spark.createDataFrame([(1, b"x")], "id long, content binary")
    with pytest.raises(ValueError, match="every_ms"):
        sample_video_frames(df, every_ms=0)


def test_bucket_cap_zero_rejected_not_silently_disabled(spark):
    """``if max_bucket_size:`` made ``0`` DISABLE the cap —
    the opposite of the plausible reading. All three capped operators must
    raise on non-positive caps; only None disables."""
    import pytest as _pytest

    from syncmaven_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_near_dups,
    )
    from syncmaven_spark.operators.similarity import cosine_pairs_lsh

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, body string",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    for bad in (0, -3):
        with _pytest.raises(ValueError, match="max_bucket_size"):
            minhash_lsh_candidates(docs, "body", "doc_id", max_bucket_size=bad)
        with _pytest.raises(ValueError, match="max_bucket_size"):
            simhash_near_dups(docs, "body", "doc_id", max_bucket_size=bad)
        with _pytest.raises(ValueError, match="max_bucket_size"):
            cosine_pairs_lsh(vecs, threshold=0.9, max_bucket_size=bad)
