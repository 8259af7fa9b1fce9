"""Deterministic, shuffle-scalable global sequence assignment.

The frontier needs a globally-unique, data-defined ``discovery_seq``
(SURVEY.md §7 risk #1: ordering must be defined by data, never by task
scheduling). The naive ``row_number() OVER (ORDER BY ...)`` collapses to a
single partition — fine at test scale, fatal at 10^10 rows. This helper
implements the classic two-phase assignment instead, all in the JVM:

1. range-partition + sort by the (total) order key — one exchange — and
   lazily localCheckpoint the result;
2. a counting pass groups the checkpoint by ``spark_partition_id()`` and
   returns each partition's row count (one row per partition);
3. the driver prefix-sums the counts in partition-id order (one tiny
   list — #partitions entries);
4. a stamping Project directly over the checkpoint scan writes
   ``seq = start + offset[pid] + local_index``, where ``local_index`` is
   ``monotonically_increasing_id() - (pid << 33)``.

Why partition ids are a sound offset key: the range sort gives partition
``i`` the ``i``-th ascending key range, and AQE coalescing only merges
adjacent ranges, so partition-id order IS key order. The checkpoint
fixes the partitioning once, for both passes. Both
``spark_partition_id()`` and ``monotonically_increasing_id()`` read the
index of the RDD partition their Project runs over — the checkpoint's
own — no matter how the stamped frame is embedded downstream (unions,
joins and repartitions sit above that Project, and its nondeterministic
expressions stop the optimizer from pushing anything beneath it).

Because the order key is total, any range partitioning yields the same
global order, so the assigned sequence is independent of parallelism —
the property the N-vs-4N identical-output requirement rests on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id() puts the partition index in the upper 31
# bits and the row index within the partition in the lower 33
_ROW_BITS = 33


def with_sequence(
    df: DataFrame,
    order_cols: list[str],
    start: int = 0,
    seq_col: str = "discovery_seq",
) -> tuple[DataFrame, int]:
    """Append ``seq_col`` = start, start+1, ... in ascending ``order_cols``
    order. ``order_cols`` are column NAMES forming a total order (include a
    unique tiebreaker). Cost: one range exchange + one counting job; no
    single-partition stage and no Python.

    Returns (stamped_df, total_rows) — the count falls out of the counting
    pass for free, so callers never re-count.

    The range-sorted frame is lazily localCheckpoint-ed (not cache()d):
    the counting pass's job materializes it, the stamping pass reads the
    SAME materialized partitions — no cache-eviction recompute can ever
    re-plan to a different partitioning and miss the offsets lookup —
    and the blocks are freed by the ContextCleaner as soon as the
    stamped plan is dropped, instead of accumulating in the CacheManager
    across thousands of batches.
    """
    sorted_df = df.orderBy(*order_cols).localCheckpoint(eager=False)
    pid = F.spark_partition_id()
    counts = dict(
        sorted_df.groupBy(pid.alias("_pid")).agg(F.count(F.lit(1))).collect()
    )
    if max(counts.values(), default=0) >= 1 << _ROW_BITS:
        # the local index would spill into the partition-index bits
        raise OverflowError(f"a range partition holds 2^{_ROW_BITS}+ rows")
    # offsets[p] = rows in partitions before p (empty partitions have none)
    offsets, acc = [], 0
    for p in range(max(counts, default=0) + 1):
        offsets.append(acc)
        acc += counts.get(p, 0)
    offset = F.get(F.array(*[F.lit(o).cast("long") for o in offsets]), pid)
    local = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), _ROW_BITS)
    seq = F.lit(start).cast("long") + offset + local
    return sorted_df.withColumn(seq_col, seq), acc
