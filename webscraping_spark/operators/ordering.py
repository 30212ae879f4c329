"""Deterministic global sequence assignment — distributed, no single-task
window.

``seq`` (the monotonic discovery index) is what makes the engine's crawl
order deterministic under parallelism (SURVEY.md §7.3 item 1). A naive
``row_number() OVER (ORDER BY ...)`` funnels every row through one task; at
10^10-URL scale that is the whole job. Instead:

  1. range-repartition + sort within partitions on the order key
     (total order across partition ids), pinned so every later read sees
     the same partitions in the same row order,
  2. one cheap count-per-partition job -> cumulative offsets (tiny,
     collected to the driver),
  3. a JVM projection stamps ``offset[pid] + local running index``: the
     offsets ride in as a literal array indexed by ``spark_partition_id``,
     and the local index is the low 33 bits of
     ``monotonically_increasing_id`` (its high bits are the partition id).

Cost: one extra count job over the batch; every stage is fully parallel and
no row crosses into Python, so re-reading the stamped frame is a projection
over pinned blocks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def assign_global_seq(
    df: DataFrame,
    order_cols: list[Column],
    start: int = 0,
    seq_col: str = "seq",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Add ``seq_col`` = start, start+1, ... in the total order given by
    ``order_cols`` (which must be deterministic and total — pass a unique
    tiebreaker). Returns (stamped_df, row_count) — the count is a free
    byproduct of the offset job."""
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # the stamp below reads partition ids and in-partition positions, so it
    # must see exactly the partitions the counts came from: pin them
    arranged = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .localCheckpoint(eager=False)
    )
    counts = dict(
        arranged.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    offsets = []
    acc = start
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    base = F.element_at(
        F.array(*[F.lit(o) for o in offsets]).cast("array<bigint>"),
        F.spark_partition_id() + 1,
    )
    local = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    return arranged.withColumn(seq_col, base + local), acc - start


def _spread_bits(x):
    """Interleave-ready bit spread: the 31 low bits of ``x`` move to the
    even bit positions of a 62-bit value (classic Morton magic masks,
    fully expressible in both Spark and ANSI-ish SQL bitwise ops — the
    result stays under 2^62, so BIGINT never goes negative)."""
    def band(c, m):
        # Column.__and__/__or__ are BOOLEAN operators in PySpark; the
        # bitwise forms are methods
        return c.bitwiseAND(F.lit(m).cast("long"))

    x = band(x, 0x7FFFFFFF)
    x = band(x.bitwiseOR(F.shiftleft(x, 16)), 0x0000FFFF0000FFFF)
    x = band(x.bitwiseOR(F.shiftleft(x, 8)), 0x00FF00FF00FF00FF)
    x = band(x.bitwiseOR(F.shiftleft(x, 4)), 0x0F0F0F0F0F0F0F0F)
    x = band(x.bitwiseOR(F.shiftleft(x, 2)), 0x3333333333333333)
    x = band(x.bitwiseOR(F.shiftleft(x, 1)), 0x5555555555555555)
    return x


def zorder_key(col_a, col_b):
    """62-bit Morton (Z-order) key interleaving the low 31 bits of two
    non-negative integer columns — the multi-dimensional clustering key
    behind Delta/Iceberg's OPTIMIZE ZORDER: sort or repartitionByRange on
    it and rows close in BOTH dimensions land in the same files, so a
    scan filtered on either dimension (or both) prunes most of them.
    Crawl-shaped use: ``zorder_key(pmod(xxhash64(domain), 2^31),
    fetched_at_bucket)`` clusters the visited table so per-domain probes
    AND time-range compactions each touch few files.

    Pure codegen bitwise expression (six mask-shift rounds per side);
    callers clamp/bucket their dimensions into [0, 2^31) first — a hash
    or a time bucket already is."""
    return _spread_bits(col_a).bitwiseOR(F.shiftleft(_spread_bits(col_b), 1))
