"""Per-row schema validation + error-rate threshold.

Reference:
- ``packages/core/src/lib/uniparser.ts:40-81`` — the destination's declared
  row schema (JSON Schema, ``additionalProperties: true``) is compiled once
  and applied per row after a date→ISO stringify/parse roundtrip; invalid
  rows are skipped with a warning (sync.ts:556-564).
- ``packages/core/src/lib/error-threshold.ts:11-31`` — the sync aborts once
  ``errors/total >= 0.2`` **and** ``total >= 100``.

Spark-first: validation is expressed as a vectorized stage producing a
boolean ``_valid`` column (Arrow-batched pandas iterator over JSON-encoded
rows), so the valid/invalid split is two Catalyst filters and the counts come
from the same pass. The driver-side ``RowValidator`` is used by parity-mode
sinks and unit tests.
"""

from __future__ import annotations

import json
from typing import Any, Iterator

import jsonschema
import pandas as pd
from pyspark.sql import DataFrame
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


def with_validation_column(
    df: DataFrame, json_schema: dict[str, Any] | None, col_name: str = "_valid"
) -> DataFrame:
    """Append a boolean validity column, vectorized.

    The row is JSON-encoded JVM-side (``to_json`` — codegen'd, ISO timestamp
    formatting included) and validated in an Arrow-batched pandas UDF, so the
    Python boundary carries one string column instead of N typed columns.
    """
    if json_schema is None:
        return df.withColumn(col_name, F.lit(True))

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
    return df.withColumn(col_name, _validate(row_json))


def split_valid_invalid(
    df: DataFrame, json_schema: dict[str, Any] | None
) -> tuple[DataFrame, DataFrame]:
    """Valid/invalid DataFrame split (sync.ts:523,556-564 as a set operation)."""
    tagged = with_validation_column(df, json_schema)
    valid = tagged.filter(F.col("_valid")).drop("_valid")
    invalid = tagged.filter(~F.col("_valid")).drop("_valid")
    return valid, invalid

