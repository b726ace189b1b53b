"""Error-handling policies (SURVEY §2.7 E1-E6).

Reference policies:
- E1 deserialization: skip bad records, FAIL after 25 total
  (DeserializationErrorHandler, ErrorHandlingExample.scala:32-47)
- E2 production: continue on RecordTooLarge, else fail (:49-62)
- E3 uncaught: replace thread on known-transient error, else shutdown
  (:64-74) — mapped to the restart loop in lifecycle.StreamApp
- E4 malformed JSON: drop + log (serdes/circe.scala:15-23)

Spark mapping: the serde boundary yields null on parse failure
(functions.json_serde); this module adds the *counted* dead-letter policy
via foreachBatch — each batch's bad rows are counted by one extra
``count()`` job and added to a driver-side total, and optionally
persisted to a dead-letter sink; crossing the threshold raises, failing
the query exactly like the reference's FAIL-after-N.  The total lives on
the policy object, so it restarts from zero with a new driver process.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class DeserializationThresholdExceeded(RuntimeError):
    """Raised when cumulative malformed-record count crosses the limit
    (reference: DeserializationExceptionHandler FAIL after 25,
    ErrorHandlingExample.scala:40-44)."""


#: error messages considered transient -> restart (reference
#: CustomUncaughtExcHandler matches 'Transient error' to REPLACE_THREAD,
#: ErrorHandlingExample.scala:64-74)
TRANSIENT_MARKERS = ("Transient error",)


def is_transient(exc: BaseException) -> bool:
    seen = set()
    cur: BaseException | None = exc
    while cur is not None and id(cur) not in seen:
        seen.add(id(cur))
        if any(m in str(cur) for m in TRANSIENT_MARKERS):
            return True
        cur = cur.__cause__ or cur.__context__
    return False


#: substrings of production/write errors that are skippable (reference
#: ProducerErrorHandler: CONTINUE on RecordTooLargeException, else FAIL,
#: ErrorHandlingExample.scala:49-62)
SKIPPABLE_WRITE_ERRORS = ("RecordTooLarge",)


def handle_production_error(exc: BaseException) -> bool:
    """E2 policy: True -> skip the failed write and continue (record too
    large), False -> the caller must fail the query.  Used inside
    foreachBatch sinks: ``except Exception as e: if not
    handle_production_error(e): raise``."""
    return any(m in str(exc) for m in SKIPPABLE_WRITE_ERRORS)


@dataclass
class DeadLetterPolicy:
    """Counted skip-then-fail policy for a JSON-parsed stream.

    Use with foreachBatch: ``policy.process(batch_df)`` splits the batch
    at the serde boundary, counts the malformed rows with a ``count()``
    job on the batch, adds them to ``errors_seen`` on the driver, raises
    past ``max_errors``, and returns the good rows.
    """

    value_col: str
    schema: StructType
    max_errors: int = 25
    dead_letter_sink: Callable[[DataFrame], None] | None = None
    errors_seen: int = field(default=0, init=False)

    def process(self, batch_df: DataFrame) -> DataFrame:
        parsed = batch_df.withColumn(
            "_parsed", F.from_json(F.col(self.value_col).cast("string"), self.schema)
        )
        # PERMISSIVE from_json yields an ALL-NULL struct (not a null
        # struct) for malformed input — malformed := struct null or
        # every field null (circe decode-failure parity: a record
        # missing all expected fields is equally undecodable)
        all_null = F.lit(True)
        for f in self.schema.fields:
            all_null = all_null & F.col(f"_parsed.{f.name}").isNull()
        bad_cond = F.col("_parsed").isNull() | all_null
        bad = parsed.filter(bad_cond)
        n_bad = bad.count()
        if n_bad:
            self.errors_seen += n_bad
            if self.dead_letter_sink is not None:
                self.dead_letter_sink(bad.drop("_parsed"))
        if self.errors_seen > self.max_errors:
            raise DeserializationThresholdExceeded(
                f"{self.errors_seen} malformed records > limit {self.max_errors}"
            )
        return parsed.filter(~bad_cond).select(*batch_df.columns, F.col("_parsed.*"))
