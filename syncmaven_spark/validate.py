"""Per-row schema validation + error-rate threshold.

Reference:
- ``packages/core/src/lib/uniparser.ts:40-81`` — the destination's declared
  row schema (JSON Schema, ``additionalProperties: true``) is compiled once
  and applied per row after a date→ISO stringify/parse roundtrip; invalid
  rows are skipped with a warning (sync.ts:556-564).
- ``packages/core/src/lib/error-threshold.ts:11-31`` — the sync aborts once
  ``errors/total >= 0.2`` **and** ``total >= 100``.

Spark-first: :func:`compile_row_schema` decides the schema against the row's
JSON image from the Spark column types alone, at plan time. For the keyword
subset every built-in stream schema uses, the verdict is a constant (``true``
for an any-object schema) or a Catalyst predicate over the value-dependent
residue (nulls, NaN/Inf, integral floats, array elements). Executor paths
append it as the boolean ``_valid`` column (:func:`with_validation_column`),
so the valid/invalid split is two Catalyst filters and no row crosses into
Python; driver paths with a constant verdict skip per-row validation of
source rows. Schemas outside the subset (``format``, ``pattern``, ``enum``,
...) fall back to jsonschema: an Arrow-batched pandas UDF over ``to_json``
rows on executors, :class:`RowValidator` on the driver.
"""

from __future__ import annotations

import functools
import json
from typing import Any, Callable, Iterator, Union

import jsonschema
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from syncmaven_spark.types import RowJSONEncoder

DEFAULT_MAX_ERROR_RATIO = 0.2
DEFAULT_MIN_TOTAL = 100


class ErrorThresholdExceeded(RuntimeError):
    pass


class ErrorThreshold:
    """Abort bookkeeping (error-threshold.ts:11-31)."""

    def __init__(
        self,
        max_ratio: float = DEFAULT_MAX_ERROR_RATIO,
        min_total: int = DEFAULT_MIN_TOTAL,
    ) -> None:
        self.max_ratio = max_ratio
        self.min_total = min_total
        self.errors = 0
        self.total = 0
        self._exceeded = False

    def success(self, n: int = 1) -> None:
        self.total += n

    def fail(self, n: int = 1) -> None:
        if n <= 0:
            # a zero-failure batch is not a failure event: evaluating the
            # gate here would let an all-valid chunk trip a threshold the
            # reference only re-evaluates on a real errors++ (callers pass
            # fail(n_invalid) unconditionally)
            return
        self.errors += n
        self.total += n
        # The reference evaluates the gate ONLY inside fail() (error-
        # threshold.ts computes total = errors + success BEFORE errors++,
        # then increments): with 80 successes it aborts on the 21st error
        # (21/100), not the 20th — and a sync sitting at the boundary
        # (20 errors / 80 successes) keeps running through further
        # SUCCESSES until another failure re-evaluates. The verdict is
        # therefore latched here, never recomputed from current totals.
        # Batched n is the fold of n single failures; both the ratio
        # (errors grow as fast as total) and the min_total gate are
        # monotone over the fold, so checking the final state suffices.
        pre_total = self.total - 1
        if (
            pre_total >= self.min_total
            and pre_total > 0
            and self.errors / pre_total >= self.max_ratio
        ):
            self._exceeded = True

    @property
    def exceeded(self) -> bool:
        return self._exceeded

    def check(self) -> None:
        if self.exceeded:
            raise ErrorThresholdExceeded(
                f"error rate {self.errors}/{self.total} exceeds "
                f"{self.max_ratio:.0%} after {self.min_total}+ rows"
            )


class RowValidator:
    """Compiled JSON-Schema validator with the reference's row semantics:
    ``additionalProperties`` always allowed, dates validated in their
    ISO-string form (uniparser.ts:51-54)."""

    def __init__(self, json_schema: dict[str, Any] | None) -> None:
        self.schema = dict(json_schema or {"type": "object"})
        # Reference FORCES additionalProperties: true — an unconditional
        # spread ({...schema, additionalProperties: true}, uniparser.ts:51)
        # — so undeclared columns pass through as custom attributes even
        # when a zod-derived schema declared additionalProperties: false.
        self.schema["additionalProperties"] = True
        cls = jsonschema.validators.validator_for(self.schema)
        cls.check_schema(self.schema)
        # format constraints enforced like the reference's Ajv+addFormats
        # (uniparser.ts:49-51); jsonschema checks each format when its
        # backing package is importable (rfc3339-validator ships here)
        self._validator = cls(self.schema, format_checker=jsonschema.FormatChecker())

    def is_valid(self, row: dict[str, Any]) -> bool:
        # Date → ISO stringify-parse roundtrip (uniparser.ts:54): validate the
        # JSON image of the row, not the in-memory objects.
        image = json.loads(json.dumps(row, cls=RowJSONEncoder))
        return self._validator.is_valid(image)

    def errors_for(self, row: dict[str, Any]) -> list[str]:
        image = json.loads(json.dumps(row, cls=RowJSONEncoder))
        return [e.message for e in self._validator.iter_errors(image)]


#: the keywords :func:`compile_row_schema` models — all eleven built-in
#: stream schemas use only these; any other keyword falls back to jsonschema
_COMPILED_KEYWORDS = frozenset(
    {"type", "required", "properties", "items", "additionalProperties"}
)

#: drafts whose ``type``/``required``/``properties``/``items`` the compiler
#: models (draft 3 spells ``required`` per property and has type ``any``)
_COMPILED_DRAFTS = (
    jsonschema.Draft4Validator,
    jsonschema.Draft6Validator,
    jsonschema.Draft7Validator,
    jsonschema.Draft201909Validator,
    jsonschema.Draft202012Validator,
)

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType, T.DecimalType)
#: types whose JSON image is a string (RowJSONEncoder: ISO-millis dates,
#: UTF-8-decoded binary)
_STRINGS = (
    T.StringType, T.CharType, T.VarcharType, T.BinaryType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)
#: map key types ``json.dumps`` accepts as object keys
_MAP_KEYS = (T.StringType, T.CharType, T.VarcharType, T.BooleanType,
             T.FloatType, T.DoubleType, *_INTEGRAL)

#: a value-dependent verdict: builds the predicate over the value's Column
_Residual = Callable[[Column], Column]
_Verdict = Union[bool, _Residual]


@functools.lru_cache(maxsize=64)
def _checked_draft(schema_json: str) -> type:
    """The validator class of a schema, after its meta-schema check (memoised:
    the check costs milliseconds and every sync compiles its schema anew)."""
    schema = json.loads(schema_json)
    cls = jsonschema.validators.validator_for(schema)
    cls.check_schema(schema)
    return cls


def _in_subset(s: Any) -> bool:
    """Whether the subschema ``s`` uses only the compiled keywords, with a
    single-schema ``items`` and no ``additionalProperties`` other than true."""
    if not isinstance(s, dict) or not s.keys() <= _COMPILED_KEYWORDS:
        return False
    if s.get("additionalProperties", True) is not True:
        return False
    if "items" in s and not _in_subset(s["items"]):
        return False
    props = s.get("properties", {})
    return isinstance(props, dict) and all(_in_subset(p) for p in props.values())


def _encodable(dt: T.DataType) -> bool:
    """Whether every value of ``dt`` has a JSON image under RowJSONEncoder
    that keeps each struct field as its own key."""
    if isinstance(dt, T.StructType):
        names = dt.fieldNames()
        return len(set(names)) == len(names) and all(
            _encodable(f.dataType) for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return _encodable(dt.elementType)
    if isinstance(dt, T.MapType):
        return isinstance(dt.keyType, _MAP_KEYS) and _encodable(dt.valueType)
    return isinstance(dt, (T.NullType, T.BooleanType, *_INTEGRAL, *_FRACTIONAL, *_STRINGS))


class _Unsupported(Exception):
    """``required``/``properties`` met a map, whose keys are data."""


def _conj(*parts: _Verdict) -> _Verdict:
    """Conjunction, folding the constants."""
    if any(p is False for p in parts):
        return False
    rest = [p for p in parts if p is not True]
    if not rest:
        return True
    return lambda c: functools.reduce(lambda a, b: a & b, (p(c) for p in rest))


def _allows(s: dict) -> Callable[[str], bool]:
    """Whether ``s``'s ``type`` keyword admits a JSON type."""
    types = s.get("type")
    if types is None:
        return lambda t: True
    return ([types] if isinstance(types, str) else types).__contains__


def _node(s: dict, dt: T.DataType, nullable: bool, int_floats: bool) -> _Verdict:
    """The verdict of subschema ``s`` on one value of type ``dt``."""
    allows = _allows(s)
    # JSON null: a null value, and a NaN/Inf float (RowJSONEncoder)
    if isinstance(dt, T.NullType):
        return allows("null")
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        def is_null(c):
            nonfinite = F.isnan(c) | (F.abs(c) == float("inf"))
            return c.isNull() | nonfinite if nullable else nonfinite
    else:
        is_null = (lambda c: c.isNull()) if nullable else False
    ok = _value(s, allows, dt, int_floats)
    if is_null is False:
        return ok
    null_ok = allows("null")
    if ok is null_ok:
        return ok
    return lambda c: F.when(is_null(c), F.lit(null_ok)).otherwise(
        F.lit(ok) if isinstance(ok, bool) else ok(c)
    )


def _value(s: dict, allows, dt: T.DataType, int_floats: bool) -> _Verdict:
    """The verdict of ``s`` on a value of type ``dt`` whose JSON image is not
    null."""
    if isinstance(dt, _INTEGRAL):
        return allows("integer") or allows("number")
    if isinstance(dt, _FRACTIONAL):
        if allows("number"):
            return True
        if not (allows("integer") and int_floats):
            return False
        # an integral float/decimal is a JSON integer under draft 6+; the
        # decimal's image is its nearest double (RowJSONEncoder: float(d))
        return lambda c: (c.cast("double") % F.lit(1.0)) == F.lit(0.0)
    if isinstance(dt, T.BooleanType):
        return allows("boolean")
    if isinstance(dt, _STRINGS):
        return allows("string")
    if isinstance(dt, T.ArrayType):
        if not allows("array"):
            return False
        if "items" not in s:
            return True
        item = _node(s["items"], dt.elementType, dt.containsNull, int_floats)
        if item is True:
            return True
        if item is False:
            return lambda c: F.size(c) == 0
        return lambda c: F.forall(c, item)
    if isinstance(dt, T.MapType):
        if "properties" in s or "required" in s:
            raise _Unsupported
        return allows("object")
    # StructType
    if not allows("object"):
        return False
    return _object(s, dt, lambda c, name: c.getField(name), int_floats)


def _object(s: dict, struct: T.StructType, get, int_floats: bool) -> _Verdict:
    """``required`` and ``properties`` of ``s`` on a struct (or the row)
    whose field ``name`` is ``get(c, name)``: a field that exists is always
    present as a key, even when its value is null."""
    fields = {f.name: f for f in struct.fields}
    if any(name not in fields for name in s.get("required", ())):
        return False
    parts = []
    for name, sub in s.get("properties", {}).items():
        if name not in fields:
            continue
        f = fields[name]
        v = _node(sub, f.dataType, f.nullable, int_floats)
        parts.append(v if isinstance(v, bool) else (
            lambda c, v=v, name=name: v(get(c, name))
        ))
    return _conj(*parts)


def _decide(
    json_schema: dict[str, Any] | None, struct_type: T.StructType
) -> _Verdict | None:
    """:func:`compile_row_schema` with the residual left unbuilt."""
    schema = dict(json_schema or {"type": "object"})
    schema["additionalProperties"] = True  # as RowValidator forces it
    if "$schema" in schema and jsonschema.validators.validator_for(
        schema, default=None
    ) not in _COMPILED_DRAFTS:
        return None
    top = {k: v for k, v in schema.items() if k != "$schema"}
    if not _in_subset(top) or not _encodable(struct_type):
        return None
    draft = _checked_draft(json.dumps(schema))
    if not _allows(top)("object"):
        return False  # the row itself is a non-null object
    try:
        return _object(
            top, struct_type,
            lambda _row, name: F.col("`" + name.replace("`", "``") + "`"),
            draft.TYPE_CHECKER.is_type(1.0, "integer"),
        )
    except _Unsupported:
        return None


def compile_row_schema(
    json_schema: dict[str, Any] | None, struct_type: T.StructType
) -> bool | Column | None:
    """Decide ``json_schema`` against the JSON image of rows of
    ``struct_type`` — the image :class:`RowValidator` validates — from the
    Spark column types alone, at plan time.

    Returns ``True``/``False`` when the types decide every row, a boolean
    Column (never null) for the value-dependent residual, or ``None`` when
    the schema or a column type is outside the compiled subset, in which case
    jsonschema stays the judge.

    The subset: ``type``, ``required``, ``properties``, a single-schema
    ``items`` and ``additionalProperties`` (forced true at the top level,
    true when nested) under drafts 4 through 2020-12. Types map as the
    image does: integral → integer and number; float/double/decimal →
    number, and integer when integral and the draft counts 1.0 as an
    integer, NaN/Inf → null; string, dates, timestamps and binary → string;
    boolean → boolean; struct and map → object; array → array; a null value
    → null. Non-encodable types (intervals, variant, maps with non-primitive
    keys) and duplicate field names return ``None``: ``is_valid`` raises or
    sees collapsed keys there.
    """
    verdict = _decide(json_schema, struct_type)
    if verdict is None or isinstance(verdict, bool):
        return verdict
    return F.coalesce(verdict(None), F.lit(False))


def constant_verdict(
    json_schema: dict[str, Any] | None, struct_type: T.StructType
) -> bool | None:
    """:func:`compile_row_schema`'s verdict when plan time decides every row,
    else ``None`` — for driver paths, which have no use for a residual
    Column and so never pay for building one."""
    verdict = _decide(json_schema, struct_type)
    return verdict if isinstance(verdict, bool) else None


def with_validation_column(
    df: DataFrame, json_schema: dict[str, Any] | None, col_name: str = "_valid"
) -> DataFrame:
    """Append the boolean validity column ``col_name``.

    Compile-first: when :func:`compile_row_schema` decides the schema, the
    column is a literal or its Catalyst predicate and no row leaves the JVM.
    Only a schema outside the compiled subset falls back to jsonschema: the
    row is JSON-encoded JVM-side (``to_json``, ISO timestamp formatting
    included) and validated in an Arrow-batched pandas UDF, so the Python
    boundary carries one string column instead of N typed columns.

    A model column already named ``col_name`` is an error, not overwritten:
    the delivery paths drop the tag before the sink sees the row.
    """
    clash = [c for c in df.columns if c.lower() == col_name.lower()]
    if clash:
        raise ValueError(
            f"column {clash[0]!r} collides with the validation column "
            f"{col_name!r}; rename it in the model"
        )
    verdict = compile_row_schema(json_schema, df.schema)
    if verdict is None:
        verdict = _jsonschema_column(df, json_schema)
    elif isinstance(verdict, bool):
        verdict = F.lit(verdict)
    return df.withColumn(col_name, verdict)


def _jsonschema_column(df: DataFrame, json_schema: dict[str, Any] | None) -> Column:
    """The fallback validity column: jsonschema over each row's ``to_json``
    image in an Arrow-batched pandas UDF."""
    schema_json = json.dumps(json_schema)

    @F.pandas_udf(T.BooleanType())
    def _validate(batch_iter: Iterator[pd.Series]) -> Iterator[pd.Series]:
        validator = RowValidator(json.loads(schema_json))
        for series in batch_iter:
            yield pd.Series(
                [validator._validator.is_valid(json.loads(s)) if s else False for s in series]
            )

    from syncmaven_spark.types import scrubbed_columns

    # date/NTZ formats pinned too: the vectorized JSON image must match
    # the driver path's RowJSONEncoder (iso_millis) byte-for-byte, or the
    # two execution paths would disagree on rows whose schema constrains
    # such fields (pattern/format/enum). NaN/Infinity doubles are nulled
    # first: to_json would render them as the STRING "NaN", which a
    # {'type': ['number','null']} schema rejects while the driver path
    # (RowJSONEncoder → null) accepts — the paths must agree.
    row_json = F.to_json(
        F.struct(*scrubbed_columns(df)),
        {
            "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
            "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
            "dateFormat": "yyyy-MM-dd'T00:00:00.000Z'",
            "ignoreNullFields": "false",
        },
    )
    return _validate(row_json)


def split_valid_invalid(
    df: DataFrame, json_schema: dict[str, Any] | None
) -> tuple[DataFrame, DataFrame]:
    """Valid/invalid DataFrame split (sync.ts:523,556-564 as a set operation)."""
    tagged = with_validation_column(df, json_schema)
    valid = tagged.filter(F.col("_valid")).drop("_valid")
    invalid = tagged.filter(~F.col("_valid")).drop("_valid")
    return valid, invalid

