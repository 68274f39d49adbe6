"""Validation + error-threshold tests (uniparser.ts / error-threshold.ts)."""

import datetime as dt

import pytest

from syncmaven_spark.validate import (
    ErrorThreshold,
    ErrorThresholdExceeded,
    RowValidator,
    split_valid_invalid,
)

CONTACT_SCHEMA = {
    "type": "object",
    "properties": {
        "external_id": {"type": ["string", "integer"]},
        "email": {"type": "string"},
        "name": {"type": ["string", "null"]},
    },
    "required": ["external_id", "email"],
}


def test_valid_row_with_custom_attributes():
    v = RowValidator(CONTACT_SCHEMA)
    assert v.is_valid({"external_id": 1, "email": "a@b.c", "custom_field": 42})


def test_missing_required_invalid():
    v = RowValidator(CONTACT_SCHEMA)
    assert not v.is_valid({"email": "a@b.c"})
    assert v.errors_for({"email": "a@b.c"})


def test_wrong_type_invalid():
    v = RowValidator(CONTACT_SCHEMA)
    assert not v.is_valid({"external_id": 1, "email": 123})


def test_dates_validated_as_iso_strings():
    schema = {
        "type": "object",
        "properties": {"time": {"type": "string"}},
        "required": ["time"],
    }
    v = RowValidator(schema)
    # datetime objects pass "type: string" because validation happens on the
    # JSON image (uniparser.ts:54 stringify/parse roundtrip)
    assert v.is_valid({"time": dt.datetime(2024, 5, 15, 13, 39, 5, 172000)})


def test_none_schema_accepts_anything():
    v = RowValidator(None)
    assert v.is_valid({"anything": [1, {"x": None}]})


def test_error_threshold_boundaries():
    """Reference abort boundary (error-threshold.ts): the gate evaluates
    against the PRE-increment total, so with 80 successes the 20th error
    (total now 100, pre 99) does NOT abort — the 21st (21/100) does."""
    t = ErrorThreshold()
    for _ in range(80):
        t.success()
    for _ in range(20):
        t.fail()
    t.check()  # pre-increment total 99 < min_total — reference passes here
    t.fail()  # 21st error: 21/100 ≥ 0.2 → exceeded
    with pytest.raises(ErrorThresholdExceeded):
        t.check()


def test_error_threshold_low_rate_ok():
    t = ErrorThreshold()
    for _ in range(1000):
        t.success()
    for _ in range(100):
        t.fail()
    t.check()  # 100/1100 < 0.2


def test_split_valid_invalid_dataframe(spark):
    df = spark.createDataFrame(
        [(1, "a@b.c"), (2, None), (3, "c@d.e")], ["external_id", "email"]
    )
    valid, invalid = split_valid_invalid(df, CONTACT_SCHEMA)
    assert sorted(r.external_id for r in valid.collect()) == [1, 3]
    assert [r.external_id for r in invalid.collect()] == [2]


def test_additional_properties_forced_true():
    """The reference spreads {additionalProperties: true} over the schema
    UNCONDITIONALLY (uniparser.ts:51): a zod-derived schema declaring
    additionalProperties:false must still pass custom-attribute rows."""
    v = RowValidator({
        "type": "object",
        "properties": {"id": {"type": "integer"}},
        "additionalProperties": False,
    })
    assert v.is_valid({"id": 1, "custom_attr": "kept"})
    # and a schema with no explicit type gets the same treatment
    v2 = RowValidator({"properties": {"id": {"type": "integer"}}, "additionalProperties": False})
    assert v2.is_valid({"id": 1, "x": 2})


def test_format_constraints_enforced():
    """Ajv+addFormats parity: format keywords reject bad values."""
    v = RowValidator({
        "type": "object",
        "properties": {
            "email": {"type": "string", "format": "email"},
            "at": {"type": "string", "format": "date-time"},
        },
    })
    assert v.is_valid({"email": "a@b.co", "at": "2024-05-15T13:39:05.172Z"})
    assert not v.is_valid({"email": "not-an-email"})
    assert not v.is_valid({"at": "yesterday-ish"})


def test_vectorized_json_image_matches_driver_for_dates(spark):
    """The vectorized path's JSON image must equal RowJSONEncoder's for
    date and NTZ columns, or parity/scale modes would disagree on rows
    whose schema constrains those fields."""
    import datetime as dt

    from syncmaven_spark.validate import with_validation_column

    schema = {
        "type": "object",
        "properties": {
            "d": {"type": "string", "pattern": r"^\d{4}-\d{2}-\d{2}T00:00:00\.000Z$"},
            "nt": {"type": "string", "pattern": r"\.\d{3}Z$"},
        },
    }
    df = spark.sql(
        "select date'2024-05-15' as d, "
        "timestamp_ntz'2024-05-15 13:39:05.172' as nt"
    )
    row = with_validation_column(df, schema).collect()[0]
    assert row["_valid"] is True
    # the driver path agrees
    v = RowValidator(schema)
    assert v.is_valid({"d": dt.date(2024, 5, 15), "nt": dt.datetime(2024, 5, 15, 13, 39, 5, 172000)})


def test_vectorized_validation_nan_matches_driver_path(spark):
    """To_json rendered a NaN double as the STRING
    "NaN", so with_validation_column rejected rows the driver-path
    RowValidator (NaN -> null) accepted — the two documented execution
    paths disagreed on the same sync."""
    from syncmaven_spark.validate import RowValidator, with_validation_column

    schema = {
        "type": "object",
        "properties": {"a": {"type": ["number", "null"]}},
    }
    df = spark.createDataFrame(
        [(float("nan"),), (1.0,)], "a double"
    )
    got = {
        r["a"]: r["_valid"]
        for r in with_validation_column(df, schema).collect()
    }
    assert all(got.values()), got
    # parity: the driver path agrees
    assert RowValidator(schema).is_valid({"a": float("nan")})


def test_error_threshold_latched_at_fail_not_recomputed():
    """The reference evaluates the threshold ONLY inside fail().
    A sync sitting exactly at the boundary (20 errors / 80 successes) must
    keep running through further SUCCESSES — only another failure may trip
    it."""
    t = ErrorThreshold()  # 0.2 / 100
    for _ in range(80):
        t.success()
    for _ in range(20):
        t.fail()
    assert not t.exceeded
    # successes past the boundary: ratio vs current totals would now be
    # 20/100 >= 0.2, but the reference never re-evaluates on success
    for _ in range(50):
        t.success()
        assert not t.exceeded, "success must never trip the threshold"
    t.fail()  # 21/150 < 0.2 — still fine
    assert not t.exceeded
    # drive errors up until a FAILURE trips it: at e errors, pre-total
    # 150 + (e - 21) + ... keep failing; eventually errors/pre >= 0.2
    while not t.exceeded:
        t.fail()
    assert t.errors / (t.total - 1) >= 0.2


def test_error_threshold_batched_fail_matches_sequential():
    a, b = ErrorThreshold(), ErrorThreshold()
    a.success(80)
    b.success(80)
    a.fail(21)
    for _ in range(21):
        b.fail()
    assert a.exceeded == b.exceeded == True  # noqa: E712


def test_error_threshold_fail_zero_is_not_a_failure_event():
    """Fail(0) (an all-valid chunk) must not evaluate the
    gate — only a real failure may latch it."""
    t = ErrorThreshold()
    t.success(49)
    t.fail(25)  # pre_total 73 < 100 — not exceeded
    assert not t.exceeded
    t.success(40)
    t.fail(0)  # all-valid chunk: errors=25, pre_total would be 113 -> 0.22
    assert not t.exceeded, "fail(0) must not latch the threshold"
    t.fail(4)  # a real failure re-evaluates: 29/117 >= 0.2 -> latches
    assert t.exceeded
