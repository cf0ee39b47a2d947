"""Last-writer-wins deduplication keyed on the merge key, ordered by LSN.

The reference's analog: the Postgres upsert overwrites the prior row for
(pcode, valid_date) and re-runs skip already-processed keys
(reference: src/datasources/floodscan.py:285-293, :101-107,
UNIQUE key at src/utils/database.py:42-52). Generalized here to
"keep the newest writer per (conv_id, turn_idx) by LSN".

The plan is ``groupBy(keys).agg(max_by(struct(payload), order))``, not
the textbook ``row_number() over (partition by keys order by order
desc) = 1``: the aggregate gets a *map-side partial aggregation* before
the shuffle — at 100 TB with a meaningful duplicate rate it moves far
fewer bytes than a window, and there is no per-partition sort.

Skew note: the dedup key *includes* ``turn_idx``, so a hot conversation
hashes across many reducers already (SURVEY.md §7.3); no salting is
needed for this shuffle. Salting matters on the bucket-write path
(operators/skew.py), where the key is conv_id alone.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_last_writer(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    order_cols: Sequence[str] = ("lsn",),
) -> DataFrame:
    """One row per key: the one greatest under ``order_cols`` ordering.

    Ties on ``order_cols`` (re-delivered events carry identical lsn AND
    identical payload) may resolve to either copy — the payload is
    identical by CDC contract, so the result is still deterministic.
    """
    keys = list(keys)
    order_cols = list(order_cols)
    payload = [c for c in df.columns if c not in keys]
    ordering = F.struct(*[F.col(c) for c in order_cols])
    agg = df.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), ordering).alias("_w")
    )
    return agg.select(*keys, *[F.col(f"_w.{c}").alias(c) for c in payload])


def partial_update_state(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    order_col: str = "lsn",
    patch_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Partial-update merge engine (Apache Paimon's `merge-engine =
    partial-update` / Debezium partial-event analog): per key, each
    non-key column independently keeps its LAST NON-NULL value by
    ``order_col`` — a patch event updates only the fields it carries,
    nulls mean "not present in this event", and the folded row is the
    union of every field's latest write.

    Differs from :func:`dedup_last_writer` (row-granular LWW): there the
    newest EVENT wins whole, erasing fields it doesn't carry; here
    fields merge across events. Same 100-TB shape though: ONE hash
    aggregation with map-side partial merge — each column is
    ``max_by(col, CASE WHEN col IS NOT NULL THEN order END)`` (max_by
    skips rows whose ordering is null, so absent fields never compete),
    no window, no sort, no self-join. ``order_col`` itself folds to its
    plain max so callers can watermark the merged row.

    ``patch_cols``: which columns patch (default: every non-key,
    non-order column). Deterministic when ``order_col`` is unique per
    key (CDC LSNs are); ties on a shared order value may keep either
    copy, exactly like row-LWW.
    """
    keys = list(keys)
    if patch_cols is None:
        patch_cols = [c for c in df.columns if c not in keys and c != order_col]
    aggs = [
        F.max_by(
            F.col(c),
            F.when(F.col(c).isNotNull(), F.col(order_col)),
        ).alias(c)
        for c in patch_cols
    ]
    aggs.append(F.max(order_col).alias(order_col))
    return df.groupBy(*keys).agg(*aggs)
