"""Validation + error-threshold tests (uniparser.ts / error-threshold.ts)."""

import datetime as dt
import decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from syncmaven_spark.validate import (
    ErrorThreshold,
    ErrorThresholdExceeded,
    RowValidator,
    compile_row_schema,
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


# --- compiled schemas --------------------------------------------------------

_NAMES = ["a", "b", "c"]
_JSON_TYPES = ["null", "boolean", "object", "array", "number", "string", "integer"]
_DRAFTS = [
    None,
    "http://json-schema.org/draft-04/schema#",
    "http://json-schema.org/draft-07/schema#",
    "https://json-schema.org/draft/2020-12/schema",
]

_LEAF_TYPES = [
    T.LongType(), T.IntegerType(), T.DoubleType(), T.FloatType(),
    T.DecimalType(10, 2), T.DecimalType(38, 18), T.DecimalType(12, 0),
    T.StringType(), T.BooleanType(), T.TimestampType(), T.DateType(),
    T.BinaryType(),
]


def _spark_types(depth=2):
    leaf = st.sampled_from(_LEAF_TYPES)
    if depth == 0:
        return leaf
    inner = _spark_types(depth - 1)
    return st.one_of(
        leaf,
        st.builds(T.ArrayType, inner),
        st.builds(lambda v: T.MapType(T.StringType(), v), inner),
        st.lists(inner, min_size=1, max_size=3).map(
            lambda ts: T.StructType(
                [T.StructField(n, t) for n, t in zip(_NAMES, ts)]
            )
        ),
    )


def _values(t):
    """Values of Spark type ``t``, nulls included."""
    if isinstance(t, (T.LongType, T.IntegerType)):
        bound = 2**63 - 1 if isinstance(t, T.LongType) else 2**31 - 1
        v = st.integers(-bound, bound)
    elif isinstance(t, T.DoubleType):
        v = st.one_of(st.floats(), st.integers(-2**60, 2**60).map(float))
    elif isinstance(t, T.FloatType):
        v = st.one_of(st.floats(width=32), st.integers(-2**30, 2**30).map(float))
    elif isinstance(t, T.DecimalType):
        bound = decimal.Decimal(10) ** (t.precision - t.scale) - 1
        v = st.decimals(-bound, bound, places=t.scale, allow_nan=False,
                        allow_infinity=False)
    elif isinstance(t, T.StringType):
        v = st.text(max_size=3)
    elif isinstance(t, T.BooleanType):
        v = st.booleans()
    elif isinstance(t, T.TimestampType):
        v = st.datetimes(dt.datetime(1990, 1, 1), dt.datetime(2100, 1, 1))
    elif isinstance(t, T.DateType):
        v = st.dates(dt.date(1990, 1, 1), dt.date(2100, 1, 1))
    elif isinstance(t, T.BinaryType):
        v = st.binary(max_size=3).map(bytearray)
    elif isinstance(t, T.ArrayType):
        v = st.lists(_values(t.elementType), max_size=3)
    elif isinstance(t, T.MapType):
        v = st.dictionaries(st.text(max_size=2), _values(t.valueType), max_size=2)
    else:
        v = st.tuples(*[_values(f.dataType) for f in t.fields])
    return st.one_of(st.none(), v)


def _schemas_for(t, depth=3):
    """Subset schemas shaped by the Spark type ``t`` so that most verdicts
    depend on the values: the type's own JSON type (``integer`` for
    fractional types) and ``null`` are often allowed, ``properties`` and
    ``required`` name a struct's fields, ``items`` follows an array's
    elements."""
    if depth == 0:
        return st.just({})
    natural = (
        "string" if isinstance(t, (T.StringType, T.TimestampType, T.DateType, T.BinaryType))
        else "integer" if isinstance(t, (T.LongType, T.IntegerType, T.DoubleType,
                                         T.FloatType, T.DecimalType))
        else "boolean" if isinstance(t, T.BooleanType)
        else "array" if isinstance(t, T.ArrayType)
        else "object"
    )
    keywords = {
        "type": st.lists(
            st.sampled_from(_JSON_TYPES + [natural] * 8 + ["null"] * 4),
            min_size=1, max_size=3,
        ).map(lambda ts: list(dict.fromkeys(ts))),
    }
    optional = {"additionalProperties": st.just(True)}
    if isinstance(t, T.StructType):
        keywords["properties"] = st.fixed_dictionaries({
            f.name: _schemas_for(f.dataType, depth - 1) for f in t.fields
        })
        optional["required"] = st.lists(
            st.sampled_from(t.fieldNames() * 3 + ["x"]), min_size=1, max_size=2, unique=True
        )
    if isinstance(t, T.ArrayType):
        keywords["items"] = _schemas_for(t.elementType, depth - 1)
    return st.fixed_dictionaries(keywords, optional=optional)


@st.composite
def _case(draw):
    fields = draw(st.lists(_spark_types(), min_size=1, max_size=3))
    columns = [draw(st.lists(_values(t), min_size=1, max_size=3)) for t in fields]
    n = min(len(c) for c in columns)
    rows = list(zip(*(c[:n] for c in columns)))
    struct = T.StructType([
        # a column with no null may be declared non-nullable
        T.StructField(name, t, any(r[i] is None for r in rows)
                      or draw(st.sampled_from([True, True, False])))
        for i, (name, t) in enumerate(zip(_NAMES, fields))
    ])
    schema = draw(_schemas_for(struct))
    if draw(st.sampled_from([True] * 4 + [False])):
        schema["type"] = "object"  # the row itself is always an object
    draft = draw(st.sampled_from(_DRAFTS))
    if draft:
        schema["$schema"] = draft
    return struct, rows, schema


@given(case=_case())
@settings(max_examples=9, deadline=None, database=None)
def test_compiled_schema_matches_jsonschema_and_udf(spark, case):
    """The compiled verdict agrees row for row with RowValidator on the
    driver's row dicts and with the jsonschema UDF column."""
    from pyspark.sql import functions as F

    from syncmaven_spark.validate import _jsonschema_column

    struct, rows, schema = case
    verdict = compile_row_schema(schema, struct)
    assert verdict is not None
    df = spark.createDataFrame(rows, struct).coalesce(1)  # one task
    compiled = F.lit(verdict) if isinstance(verdict, bool) else verdict
    got = df.select(
        compiled.alias("_compiled"), _jsonschema_column(df, schema).alias("_udf"), "*"
    ).collect()
    validator = RowValidator(schema)
    for r in got:
        row = r.asDict(recursive=True)
        compiled_ok, udf_ok = row.pop("_compiled"), row.pop("_udf")
        assert compiled_ok is validator.is_valid(row), (row, schema)
        assert compiled_ok is udf_ok, (row, schema)


_OUTSIDE = [
    {"format": "email"}, {"pattern": "^a"}, {"enum": [1]}, {"const": 1},
    {"minimum": 0}, {"maxLength": 2}, {"items": [{}]},
    {"additionalProperties": False}, {"anyOf": [{}]}, {"$ref": "#"},
]


_STRING_ROW = T.StructType([T.StructField(n, T.StringType()) for n in _NAMES])


@st.composite
def _outside_case(draw):
    """A subset schema with one keyword from outside the subset planted at
    the root or in a nested subschema."""
    schema = draw(_schemas_for(_STRING_ROW))
    extra = draw(st.sampled_from(_OUTSIDE))
    node, path = schema, draw(st.lists(st.sampled_from(["items", "a"]), max_size=2))
    for step in path:
        if step == "items":
            node = node.setdefault("items", {})
        else:
            node = node.setdefault("properties", {}).setdefault("a", {})
    if node is schema and "additionalProperties" in extra:
        node = schema.setdefault("properties", {}).setdefault("a", {})
    node.update(extra)
    return schema


@given(schema=_outside_case())
@settings(max_examples=60, deadline=None, database=None)
def test_keywords_outside_subset_do_not_compile(schema):
    assert compile_row_schema(schema, _STRING_ROW) is None


_MAP_ROW = T.StructType([T.StructField("m", T.MapType(T.StringType(), T.LongType()))])


@pytest.mark.parametrize("schema,struct", [
    ({}, T.StructType([T.StructField("d", T.DayTimeIntervalType())])),
    ({}, T.StructType([T.StructField("m", T.MapType(T.DateType(), T.LongType()))])),
    ({}, T.StructType([T.StructField("a", T.LongType()), T.StructField("a", T.StringType())])),
    ({}, T.StructType([T.StructField("s", T.StructType([
        T.StructField("x", T.LongType()), T.StructField("x", T.LongType())]))])),
    ({"properties": {"m": {"required": ["k"]}}}, _MAP_ROW),
    ({"properties": {"m": {"properties": {"k": {"type": "string"}}}}}, _MAP_ROW),
], ids=["interval", "date_map_key", "duplicate_columns", "duplicate_struct_fields",
        "required_under_map", "properties_under_map"])
def test_types_outside_the_json_image_model_do_not_compile(schema, struct):
    """is_valid raises on unencodable types, sees collapsed keys for
    duplicate names, and checks a map's data keys: jsonschema stays the
    judge."""
    assert compile_row_schema(schema, struct) is None


def test_builtin_stream_schemas_compile_and_stdio_format_does_not(spark):
    import json
    import sys

    from syncmaven_spark.sinks import get_destination
    from syncmaven_spark.sinks.stdio import StdioDestination

    columns = T.StructType([
        T.StructField(n, t) for n, t in [
            ("id", T.LongType()), ("external_id", T.StringType()),
            ("company_id", T.LongType()), ("email", T.StringType()),
            ("name", T.StringType()), ("company_ids", T.ArrayType(T.LongType())),
            ("signed_up_at", T.TimestampType()), ("size", T.DoubleType()),
            ("date", T.DateType()), ("source", T.StringType()),
            ("campaign_id", T.LongType()), ("cost", T.DecimalType(12, 2)),
            ("unsubscribed", T.BooleanType()), ("props", T.MapType(T.StringType(), T.StringType())),
        ]
    ])
    names = ["http", "file", "hubspot", "intercom", "mixpanel", "facebook-ads",
             "twitter-ads", "resend", "google-sheets"]
    seen = 0
    for name in names:
        for spec in get_destination(name, {}).streams():
            assert compile_row_schema(spec.row_type, columns) is not None, (name, spec.name)
            seen += 1
    assert seen == 11
    # a connector's own rowType with a format constraint stays on jsonschema
    row_type = {"type": "object", "properties": {"email": {"type": "string", "format": "email"}}}
    spec = {"type": "stream-spec", "payload": {"streams": [{"name": "raw", "rowType": row_type}]}}
    connector = [sys.executable, "-c", (
        "import sys\n"
        "for line in sys.stdin:\n"
        f"    print({json.dumps(json.dumps(spec))}, flush=True)\n"
        "    break\n"
    )]
    user = StdioDestination(connector).stream_spec("raw")
    assert user.row_type == row_type
    assert compile_row_schema(user.row_type, columns) is None


def test_validation_column_rejects_a_model_valid_column(spark):
    """A model column named _valid was silently overwritten by the tag and
    then dropped from every row the distributed and streaming paths
    delivered."""
    from syncmaven_spark.validate import with_validation_column

    df = spark.createDataFrame([(1, True)], "id long, _valid boolean")
    with pytest.raises(ValueError, match="_valid"):
        with_validation_column(df, {"type": "object"})
    with pytest.raises(ValueError, match="_VALID"):
        with_validation_column(df.withColumnRenamed("_valid", "_VALID"), None)


def test_http_parity_sync_validates_no_source_row(spark, tmp_path, monkeypatch):
    """The any-object schema accepts every row whatever its values, so
    run_sync into http never calls RowValidator.is_valid."""
    from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync
    from syncmaven_spark.session import load_tables
    from syncmaven_spark.state import InMemoryStore
    from tests.conftest import SF_SMOKE

    load_tables(spark, SF_SMOKE)
    calls = []
    original = RowValidator.is_valid
    monkeypatch.setattr(
        RowValidator, "is_valid", lambda self, row: calls.append(row) or original(self, row)
    )
    bodies = []
    sync = SyncDefinition(
        id="http_fast",
        model=ModelDefinition(id="m", query="select * from events order by event_id"),
        destination="http",
        stream="default",
        credentials={
            "url": "inproc://events", "format": "array", "batchSize": 500,
            "_transport": lambda method, url, headers, body: bodies.append(body),
        },
    )
    result = run_sync(spark, sync, InMemoryStore())
    n = spark.table("events").count()
    assert n > 0 and result.stats.success == n
    assert calls == []
