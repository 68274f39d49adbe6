"""HubSpot + Intercom sink tests (references: packages/connectors/{hubspot,intercom})."""

import datetime as dt

import pytest

from syncmaven_spark.sinks.base import HaltError, RateLimitError
from syncmaven_spark.sinks.hubspot import HubspotDestination, NotFound
from syncmaven_spark.sinks.intercom import (
    IntercomApiError,
    IntercomDestination,
    to_epoch_seconds,
)
from syncmaven_spark.state import InMemoryStore


class FakeHubspot:
    def __init__(self):
        self.props = {"contacts": {"email"}, "company": {"name"}}
        self.objects = {"contacts": {}, "company": {}}
        self.associations = []
        self.calls = []
        self._next_id = 100
        self.fail_update_404 = False

    def get_all_properties(self, model):
        return sorted(self.props[model])

    def create_property(self, model, name):
        self.calls.append(("create_property", model, name))
        self.props[model].add(name)

    def search_by_field(self, model, field, value):
        self.calls.append(("search", model, field, value))
        for oid, props in self.objects[model].items():
            if str(props.get(field)) == value:
                return oid
        return None

    def create(self, model, properties):
        self.calls.append(("create", model, dict(properties)))
        oid = str(self._next_id)
        self._next_id += 1
        self.objects[model][oid] = dict(properties)
        return oid

    def update(self, model, object_id, properties):
        if self.fail_update_404:
            self.fail_update_404 = False
            raise NotFound(object_id)
        self.calls.append(("update", model, object_id, dict(properties)))
        self.objects[model][object_id].update(properties)
        return object_id

    def associate(self, company_id, contact_id):
        self.associations.append((company_id, contact_id))


def _open(client, store, stream="contacts", options=None):
    return HubspotDestination().create_output_stream(
        stream, {"_client": client}, "s1", store, options=options or {}
    )


def test_hubspot_create_then_update_uses_id_map():
    client, store = FakeHubspot(), InMemoryStore()
    out = _open(client, store)
    out.handle_row({"id": 7, "email": "a@b.c", "name": "Ada Lovelace King"})
    out.finish()
    # created with split name: first = all-but-last, last = last
    created = [c for c in client.calls if c[0] == "create"][0][2]
    assert created["firstname"] == "Ada Lovelace" and created["lastname"] == "King"
    assert created["external_id"] == "7"
    assert store.get(["syncId=s1", "contactsMap", "7"]) is not None

    # second sync run: map hit → update directly, no create
    client.calls.clear()
    out2 = _open(client, store)
    out2.handle_row({"id": 7, "email": "new@b.c"})
    out2.finish()
    kinds = [c[0] for c in client.calls]
    assert "update" in kinds and "create" not in kinds
    # search was not needed for the contact itself
    assert ("search", "contacts", "external_id", "7") not in client.calls


def test_hubspot_update_404_falls_back_to_create():
    client, store = FakeHubspot(), InMemoryStore()
    store.set(["syncId=s1", "contactsMap", "9"], "999")  # stale mapping
    client.fail_update_404 = True
    out = _open(client, store)
    out.handle_row({"id": 9, "email": "x@y.z"})
    out.finish()
    assert [c[0] for c in client.calls if c[0] == "create"] == ["create"]


def test_hubspot_custom_attribute_policies():
    client, store = FakeHubspot(), InMemoryStore()
    out = _open(client, store)  # create-unknown default
    out.handle_row({"id": 1, "email": "a@b.c", "loyalty_tier": "gold"})
    assert ("create_property", "contacts", "loyalty_tier") in client.calls
    created = [c for c in client.calls if c[0] == "create"][0][2]
    assert created["loyalty_tier"] == "gold"

    client2 = FakeHubspot()
    out2 = _open(client2, InMemoryStore(), options={"customAttributesPolicy": "skip-unknown"})
    out2.handle_row({"id": 2, "email": "b@c.d", "loyalty_tier": "gold"})
    created2 = [c for c in client2.calls if c[0] == "create"][0][2]
    assert "loyalty_tier" not in created2

    out3 = _open(FakeHubspot(), InMemoryStore(), options={"customAttributesPolicy": "fail-on-unknown"})
    with pytest.raises(HaltError):
        out3.handle_row({"id": 3, "email": "c@d.e", "loyalty_tier": "gold"})

    with pytest.raises(HaltError):
        _open(FakeHubspot(), InMemoryStore(), options={"customAttributesPolicy": "bogus"})


def test_hubspot_company_association_scalar_and_array():
    client, store = FakeHubspot(), InMemoryStore()
    cout = _open(client, store, stream="companies")
    cout.handle_row({"id": "c1", "name": "Acme"})
    cout.handle_row({"id": "c2", "name": "Globex"})
    cout.finish()

    out = _open(client, store)
    out.handle_row({"id": 1, "email": "a@b.c", "company_ids": "c1"})
    out.handle_row({"id": 2, "email": "b@c.d", "company_ids": ["c1", "c2"]})
    out.finish()
    assert len(client.associations) == 3


class FakeIntercom:
    def __init__(self):
        self.contacts = {}
        self.companies = {}
        self.calls = []
        self._next = 500
        self.conflict_archived_id = None
        self.fail_404_once = False
        self.rate_limit_once = False

    def post(self, path, body):
        self.calls.append(("POST", path, body))
        if self.rate_limit_once:
            self.rate_limit_once = False
            raise RateLimitError("429", retry_after_ms=1)
        if path == "/contacts":
            if self.conflict_archived_id:
                cid = self.conflict_archived_id
                raise IntercomApiError(
                    409,
                    [{
                        "code": "conflict",
                        "message": f"An archived contact matching those details already exists with id={cid}",
                    }],
                )
            cid = str(self._next)
            self._next += 1
            self.contacts[cid] = dict(body)
            return {"id": cid}
        if path == "/companies":
            cid = body["company_id"]
            self.companies[cid] = dict(body)
            return {"id": "ic_" + cid}
        if path.endswith("/unarchive"):
            self.conflict_archived_id = None
            return {}
        raise AssertionError(path)

    def put(self, path, body):
        self.calls.append(("PUT", path, body))
        if self.fail_404_once:
            self.fail_404_once = False
            raise IntercomApiError(404)
        cid = path.rsplit("/", 1)[-1]
        self.contacts.setdefault(cid, {}).update(body)
        return {"id": cid}


def _iopen(client, store, stream="contacts"):
    return IntercomDestination().create_output_stream(
        stream, {"_client": client}, "s1", store
    )


def test_intercom_epoch_seconds_conversion():
    assert to_epoch_seconds(dt.datetime(2024, 5, 15, tzinfo=dt.timezone.utc)) == 1715731200
    assert to_epoch_seconds(1715731200) == 1715731200
    assert to_epoch_seconds("2024-05-15T00:00:00Z") == 1715731200
    assert to_epoch_seconds(None) is None


def test_intercom_create_with_custom_attributes_and_dates():
    client, store = FakeIntercom(), InMemoryStore()
    out = _iopen(client, store)
    out.handle_row(
        {
            "external_id": 1,
            "email": "a@b.c",
            "signed_up_at": dt.datetime(2024, 5, 15, tzinfo=dt.timezone.utc),
            "phone": "+1555",
        }
    )
    out.finish()
    body = client.calls[0][2]
    assert body["signed_up_at"] == 1715731200
    assert body["custom_attributes"] == {"phone": "+1555"}
    assert store.get(["syncId=s1", "contactsMap", "1"]) == "500"


def test_intercom_conflict_recovery_unarchives_then_updates():
    client, store = FakeIntercom(), InMemoryStore()
    client.conflict_archived_id = "777"
    out = _iopen(client, store)
    out.handle_row({"external_id": 2, "email": "x@y.z"})
    out.finish()
    paths = [c[1] for c in client.calls]
    assert "/contacts/777/unarchive" in paths
    assert ("PUT", "/contacts/777") in [(m, p) for m, p, _ in client.calls]
    assert store.get(["syncId=s1", "contactsMap", "2"]) == "777"


def test_intercom_update_404_creates():
    client, store = FakeIntercom(), InMemoryStore()
    store.set(["syncId=s1", "contactsMap", "3"], "888")
    client.fail_404_once = True
    out = _iopen(client, store)
    out.handle_row({"external_id": 3, "email": "n@m.o"})
    out.finish()
    assert any(m == "POST" and p == "/contacts" for m, p, _ in client.calls)


def test_intercom_company_upsert():
    client, store = FakeIntercom(), InMemoryStore()
    out = _iopen(client, store, stream="companies")
    out.handle_row(
        {
            "company_id": "co1",
            "name": "Acme",
            "size": 50,
            "remote_created_at": 1700000000,
            "industry": "robotics",
        }
    )
    out.finish()
    body = client.calls[0][2]
    assert body["remote_created_at"] == 1700000000
    assert body["custom_attributes"] == {"industry": "robotics"}
    assert store.get(["syncId=s1", "companiesMap", "co1"]) == "ic_co1"


def test_intercom_contact_company_association():
    """Round-4 review: company_ids were declared (stripped from custom
    attributes) but never attached — contacts silently lost every company
    membership. The stream now resolves each company_id (map cache + GET
    fallback, persisted) and POSTs the association like the reference."""
    from syncmaven_spark.sinks.intercom import IntercomDestination

    class FakeIntercom:
        def __init__(self):
            self.posts = []
            self.gets = []
            self._next = 100

        def post(self, path, body):
            self.posts.append((path, body))
            if path == "/contacts":
                self._next += 1
                return {"id": f"ic{self._next}"}
            return {}

        def put(self, path, body):
            return {}

        def get(self, path):
            self.gets.append(path)
            # /companies?company_id=<id> → found company
            return {"id": "co_" + path.rsplit("=", 1)[-1]}

    client, store = FakeIntercom(), InMemoryStore()
    out = IntercomDestination().create_output_stream(
        "contacts", {"_client": client}, "s1", store
    )
    out.handle_row({"external_id": 1, "email": "a@b.c", "company_ids": ["c1", "c2"]})
    # scalar form accepted too; c1 resolution now cached (no second GET)
    out.handle_row({"external_id": 2, "email": "d@e.f", "company_ids": "c1"})
    out.finish()
    assoc = [(p, b) for p, b in client.posts if p.endswith("/companies")]
    assert [b["id"] for _, b in assoc] == ["co_c1", "co_c2", "co_c1"]
    assert client.gets == ["/companies?company_id=c1", "/companies?company_id=c2"]
    # the resolved map is persisted for the next run
    assert store.get(["syncId=s1", "companiesMap", "c1"]) == "co_c1"


def test_hubspot_429_transparent_retry():
    class RateLimitedHubspot(FakeHubspot):
        def __init__(self):
            super().__init__()
            self.limited_once = False

        def create(self, model, properties):
            if not self.limited_once:
                self.limited_once = True
                raise RateLimitError("429", retry_after_ms=1)
            return super().create(model, properties)

    client = RateLimitedHubspot()
    out = HubspotDestination().create_output_stream(
        "contacts", {"_client": client}, "s1", InMemoryStore(), options={}
    )
    out.handle_row({"id": 1, "email": "a@b.c"})
    assert out.stats.success == 1
    assert client.objects["contacts"]  # created after the transparent retry
