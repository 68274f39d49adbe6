"""Facebook / Twitter / Resend audience sink tests."""

import datetime as dt
import hashlib

import pytest

from syncmaven_spark.sinks.facebook_ads import FacebookAdsDestination, _email_sha256
from syncmaven_spark.sinks.resend import ResendDestination
from syncmaven_spark.sinks.twitter_ads import TwitterAdsDestination, fix_iso
from syncmaven_spark.sinks.util import email_hash_py
from syncmaven_spark.state import InMemoryStore


class FakeFacebook:
    def __init__(self):
        self.audiences = []
        self.added = []
        self.deleted = []
        self._next = 1

    def list_audiences(self):
        return list(self.audiences)

    def create_audience(self, name, description):
        aid = f"aud{self._next}"
        self._next += 1
        self.audiences.append({"id": aid, "name": name})
        return aid

    def add_users(self, audience_id, session, payload):
        self.added.append((audience_id, dict(session), payload))

    def delete_users(self, audience_id, payload):
        self.deleted.append((audience_id, payload))


def _fb_open(client, store, options=None, restart=False):
    return FacebookAdsDestination().create_output_stream(
        "audience", {"_client": client}, "s1", store,
        restart=restart, options=options or {},
    )


def test_facebook_clear_previous_and_upload():
    client, store = FakeFacebook(), InMemoryStore()
    out = _fb_open(client, store)
    out.handle_row({"email": "A@b.c"})
    out.handle_row({"email": "d@e.f"})
    out.finish()
    # audience created by default name; rows uploaded hashed, cached in state
    assert client.audiences[0]["name"] == "audience-sync?syncId=s1&streamId=audience"
    aid, session, payload = client.added[0]
    assert payload["schema"] == ["EMAIL_SHA256"]
    assert payload["data"][0] == [_email_sha256("A@b.c")]
    assert session["batch_seq"] == 1
    assert store.get(["syncId=s1", "stream=audience", "last-synced-rows", "A@b.c"])

    # second run: previous rows deleted first, state prefix reset
    out2 = _fb_open(client, store)
    assert len(client.deleted) == 1
    _, del_payload = client.deleted[0]
    assert sorted(del_payload["data"]) == sorted(
        [_email_sha256("A@b.c"), _email_sha256("d@e.f")]
    )
    assert store.size() == 0
    out2.handle_row({"email": "g@h.i"})
    out2.finish()
    assert len(client.added) == 2


def test_facebook_do_not_clear_audience():
    client, store = FakeFacebook(), InMemoryStore()
    out = _fb_open(client, store)
    out.handle_row({"email": "a@b.c"})
    out.finish()
    _fb_open(client, store, options={"doNotClearAudience": True})
    assert client.deleted == []
    assert store.size() == 1


def test_facebook_checkpoint_restart_does_not_clear():
    client, store = FakeFacebook(), InMemoryStore()
    out = _fb_open(client, store)
    out.handle_row({"email": "a@b.c"})
    out.finish()
    _fb_open(client, store, restart=True)
    assert client.deleted == []


def test_facebook_email_hash_is_lowercased_sha256():
    assert _email_sha256("A@B.c") == hashlib.sha256(b"a@b.c").hexdigest()


class FakeTwitter:
    def __init__(self):
        self.audiences = []
        self.ops = []
        self._next = 1

    def list_audiences(self):
        return list(self.audiences)

    def create_audience(self, name, description):
        aid = f"ta{self._next}"
        self._next += 1
        self.audiences.append({"id": aid, "name": name})
        return aid

    def users_op(self, audience_id, operations):
        self.ops.append((audience_id, operations))


def test_twitter_update_and_clear_cycle():
    client, store = FakeTwitter(), InMemoryStore()
    now = dt.datetime(2026, 8, 13, 12, 0, 0)
    out = TwitterAdsDestination().create_output_stream(
        "audience", {"_client": client, "_now": now}, "s1", store
    )
    out.handle_row({"email": " Ada@Example.com "})
    out.finish()
    aid, ops = client.ops[0]
    op = ops[0]
    assert op["operation_type"] == "Update"
    assert op["params"]["effective_at"] == "2026-08-13T12:00:00Z"
    assert op["params"]["expires_at"] == "2026-09-12T12:00:00Z"
    assert op["params"]["users"][0]["email"] == [email_hash_py("Ada@Example.com")]

    # next run clears via Delete ops from state
    TwitterAdsDestination().create_output_stream(
        "audience", {"_client": client, "_now": now}, "s1", store
    )
    assert client.ops[-1][1][0]["operation_type"] == "Delete"
    assert store.size() == 0


def test_fix_iso_truncates_millis():
    assert fix_iso(dt.datetime(2024, 5, 15, 1, 2, 3, 123456)) == "2024-05-15T01:02:03Z"


class FakeResend:
    def __init__(self, rps_error_once=False):
        self.audiences = []
        self.contacts = []
        self._rps = rps_error_once
        self._next = 1

    def list_audiences(self):
        return list(self.audiences)

    def create_audience(self, name):
        aid = f"ra{self._next}"
        self._next += 1
        self.audiences.append({"id": aid, "name": name})
        return aid

    def create_contact(self, payload):
        if self._rps:
            self._rps = False
            raise RuntimeError("Too many requests: 10 requests per second allowed")
        self.contacts.append(dict(payload))


def test_resend_name_fallback_to_localpart():
    client = FakeResend()
    out = ResendDestination().create_output_stream(
        "audience", {"_client": client}, "s1", InMemoryStore()
    )
    out.handle_row({"email": "Jane.Doe@X.com"})
    out.handle_row({"email": "b@c.d", "name": "Bob B Builder", "unsubscribed": False})
    out.finish()
    c0, c1 = client.contacts
    assert c0["email"] == "jane.doe@x.com" and c0["firstName"] == "jane.doe"
    # node-cdk single-split semantics (resend/src/index.ts:72 +
    # node-cdk/src/index.ts:131-137): first WORD → first, rest → last —
    # NOT hubspot's all-but-last/last variant (round-5 sink review)
    assert c1["firstName"] == "Bob" and c1["lastName"] == "B Builder"
    assert "unsubscribed" not in c1  # falsy → keep destination value


def test_resend_rps_error_retried_transparently():
    # the rps error surfaces as RateLimitError inside the sink's API layer
    # and is retried there (sleep 1s) — the row succeeds on second attempt
    client = FakeResend(rps_error_once=True)
    out = ResendDestination().create_output_stream(
        "audience", {"_client": client}, "s1", InMemoryStore()
    )
    out.handle_row({"email": "x@y.z"})
    assert out.stats.success == 1
    assert len(client.contacts) == 1


def test_resend_requires_credentials():
    with pytest.raises(ValueError):
        ResendDestination().create_output_stream(
            "audience", {}, "s1", InMemoryStore()
        )


def test_facebook_checkpoint_reopen_gets_fresh_session():
    """Round-4 review: a checkpoint continuation reopens the stream with
    batch_seq restarting at 1 — reusing the previous open's session_id
    would collide on (session_id, batch_seq) with different data, and
    Facebook's replay dedup would silently discard the continuation
    batches. Each open of the SAME provider gets a distinct session;
    a fresh provider (crash-restart) reproduces the first session so
    identical replayed batches still dedup."""
    client, store = FakeFacebook(), InMemoryStore()
    dest = FacebookAdsDestination()
    out1 = dest.create_output_stream("audience", {"_client": client}, "s1", store)
    out1.handle_row({"email": "a@b.c"})
    out1.finish()
    out2 = dest.create_output_stream(
        "audience", {"_client": client}, "s1", store, restart=True
    )
    out2.handle_row({"email": "d@e.f"})
    out2.finish()
    (_, s1, _), (_, s2, _) = client.added
    assert s1["batch_seq"] == 1 and s2["batch_seq"] == 1
    assert s1["session_id"] != s2["session_id"]
    # crash-restart: a NEW provider's first open replays session 1 exactly
    dest2 = FacebookAdsDestination()
    out3 = dest2.create_output_stream("audience", {"_client": client}, "s1", store)
    out3.handle_row({"email": "a@b.c"})
    out3.finish()
    assert client.added[2][1]["session_id"] == s1["session_id"]
