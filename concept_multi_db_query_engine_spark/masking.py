"""Column masking — the 7 predefined masking functions (METADATA.md:120-134).

Two equivalent implementations, tested against each other:

- ``mask_sql``: a Spark SQL expression over a column reference, rendered
  into the executed query's projection. The reference masks post-fetch
  (fine for collect()-sized results); at 100 TB posture masking must run
  distributed inside the plan so raw values never reach the driver.
- ``mask_value``: plain-Python, used for the cache fast-path (rows served
  from the cache never pass through Spark).

NULL values pass through unmasked (contract C815). A masked column with no
``maskingFn`` in metadata gets ``full`` as the safe default.
"""

from __future__ import annotations

import datetime
import decimal
from typing import Any

MASKING_FNS = ("email", "phone", "name", "uuid", "number", "date", "full")


def mask_sql(ref: str, fn: str, col_type: str) -> str:
    """Masked Spark SQL expression over the column reference ``ref``. Every
    literal here is a constant of this module, never a caller value."""
    if fn == "email":
        # john@example.com → j***@***.com
        masked = (f"concat(substring({ref}, 1, 1), '***@***.', "
                  f"substring_index({ref}, '.', -1))")
    elif fn == "phone":
        # +1234567890 → +1***890 (country code + last 3)
        masked = f"concat(substring({ref}, 1, 2), '***', substring({ref}, -3, 3))"
    elif fn == "name":
        # John Smith → J********h (first + last char)
        masked = (f"concat(substring({ref}, 1, 1), "
                  f"repeat('*', greatest(length({ref}) - 2, 1)), "
                  f"substring({ref}, -1, 1))")
    elif fn == "uuid":
        # a1b2c3d4-... → a1b2****
        masked = f"concat(substring({ref}, 1, 4), '****')"
    elif fn == "number":
        zero = {"float": "DOUBLE", "decimal": "DECIMAL(38,10)"}.get(
            col_type, "BIGINT")
        masked = f"CAST(0 AS {zero})"
    elif fn == "date":
        # truncate to year: 2025-03-15 → 2025-01-01
        masked = (f"date_trunc('year', {ref})" if col_type == "timestamp"
                  else f"trunc({ref}, 'year')")
    else:  # 'full' — safe default
        masked = "'***'"
    return f"CASE WHEN {ref} IS NULL THEN NULL ELSE {masked} END"


def mask_value(value: Any, fn: str, col_type: str) -> Any:
    """Python-side masking (cache fast-path) — must agree with mask_sql."""
    if value is None:
        return None
    if fn == "email":
        s = str(value)
        return f"{s[:1]}***@***.{s.rsplit('.', 1)[-1]}"
    if fn == "phone":
        s = str(value)
        return f"{s[:2]}***{s[-3:]}"
    if fn == "name":
        s = str(value)
        return f"{s[:1]}{'*' * max(len(s) - 2, 1)}{s[-1:]}"
    if fn == "uuid":
        return f"{str(value)[:4]}****"
    if fn == "number":
        # type-matched zero so cache-served and Spark-served rows are
        # byte-identical: mask_sql casts to double/decimal(38,10)/bigint
        if col_type == "float":
            return 0.0
        if col_type == "decimal":
            return decimal.Decimal(0).scaleb(-10)  # Decimal('0E-10') ≙ (38,10)
        return 0
    if fn == "date":
        if isinstance(value, datetime.datetime):
            return value.replace(month=1, day=1, hour=0, minute=0, second=0,
                                 microsecond=0)
        if isinstance(value, datetime.date):
            return value.replace(month=1, day=1)
        s = str(value)
        return f"{s[:4]}-01-01"
    return "***"
