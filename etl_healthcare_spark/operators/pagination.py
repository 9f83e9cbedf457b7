"""O3/O4: limit clamping + keyset pagination.

Reference: opaque ``nextToken`` = base64(LastEvaluatedKey), resume via
ExclusiveStartKey (services/api-query/src/handler.ts:85,106); limit clamp
1..100 default 25 (handler.ts:65,84).

Keyset (NOT offset) semantics preserved: the token encodes the last row's sort
key and the next page filters ``(sortcols) > token`` in ascending, NULLS FIRST
order — stable under concurrent writes and O(page) per fetch, which offset
pagination is not at 100 TB.  A stable tiebreaker column is required (SURVEY
§7.3); callers pass e.g. obsId.
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def clamp_limit(limit: int | None, default: int = 25, lo: int = 1, hi: int = 100) -> int:
    if limit is None:
        limit = default
    return max(lo, min(hi, int(limit)))


def encode_token(values: list) -> str:
    return base64.b64encode(json.dumps(values, default=str).encode()).decode()


def decode_token(token: str) -> list:
    return json.loads(base64.b64decode(token.encode()).decode())


def keyset_after(sort_cols: list[str], token: str) -> Column:
    """The keyset predicate: rows strictly after ``token`` in ascending,
    NULLS FIRST order of ``sort_cols`` — the order ``keyset_page`` sorts by.

    ``(a, b) > (x, y)`` is expanded lexicographically into
    ``a > x OR (a <=> x AND b > y)``: ordinary comparisons that Parquet
    pushes down as one ``Or(...)`` filter, so a deep page stays O(page).
    The equal prefix is null-safe, and "after a NULL" is ``IS NOT NULL``
    (NULLs sort first), so a NULL in the token resumes where it left off
    instead of matching nothing.  A ``struct > struct`` comparison would
    avoid the whole-stage compile each new token costs (the token's values
    are inlined as literals), but Parquet cannot push it down."""
    vals = decode_token(token)
    pred = F.lit(False)
    eq = F.lit(True)
    for c, v in zip(sort_cols, vals):
        after = F.col(c).isNotNull() if v is None else F.col(c) > F.lit(v)
        pred = pred | (eq & after)
        eq = eq & F.col(c).eqNullSafe(F.lit(v))
    return pred


def keyset_page(df: DataFrame, sort_cols: list[str], limit: int, token: str | None = None) -> DataFrame:
    """One page, ascending (NULLS FIRST) by sort_cols, resuming strictly
    after `token` (see ``keyset_after`` for what is pushed down).  Plans as a
    single TakeOrderedAndProject over the filtered scan: one Spark job."""
    if token is not None:
        df = df.where(keyset_after(sort_cols, token))
    return df.orderBy(*sort_cols).limit(limit)


def next_token_from_rows(rows: list, sort_cols: list[str], limit: int) -> str | None:
    """Token for the next page, or None when the page was short (end)."""
    if len(rows) < limit:
        return None
    last = rows[-1]
    return encode_token([last[c] for c in sort_cols])
