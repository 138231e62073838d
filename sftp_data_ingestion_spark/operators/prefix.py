"""Distributed global running sum (prefix scan) over a total order.

A running aggregate over a GLOBAL ordering is the one window shape a
naive Spark plan serializes: ``Window.orderBy(...)`` with no
partition keys funnels every row into a single task. (Partitioning a
window by ``spark_partition_id()`` does not help — Catalyst cannot
see that the data is already laid out that way and inserts a second,
hash exchange.) The scale-safe form is the classic two-pass parallel
prefix scan, with the data moving through exactly ONE exchange:

1. range-partition on the order columns (each partition owns a
   contiguous key range) and sort WITHIN partitions — a narrow,
   spill-able sort, no further exchange;
2. pin the partitioning with an eager ``rebalance.cut``:
   RangePartitioner samples split points with an RDD-id-derived seed,
   so without pinning, the totals job and the output job would
   re-partition DIFFERENTLY and offsets would land on the wrong
   partitions (observed as run-to-run nondeterminism);
3. aggregate one SUM per partition JVM-side (P rows — driver-size by
   construction), exclusive-scan them into per-partition offsets on
   the driver;
4. one Arrow ``mapInPandas`` pass computes the in-partition cumsum
   and adds the partition's offset — the per-partition carry loop is
   exactly the imperative-per-partition case the Pandas escape hatch
   exists for.

Same boundary-carry idea as the keyless as-of join
(``operators/temporal.py``). ``order_by`` must be a TOTAL order
(include a unique tiebreaker) or a running sum is not well-defined in
any engine. NULL ``value`` rows contribute 0 and keep the running
value (note: a SQL window sum would report NULL until the first
non-NULL — this operator reports 0; callers needing SQL's
leading-NULL behavior can null the output where the running count is
0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sftp_data_ingestion_spark.rebalance import cut


def global_running_sum(
    df: DataFrame,
    order_by: list[str],
    value: str,
    out: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out`` = running sum of ``value`` over the global
    ``order_by`` ordering, without a single-partition sort."""
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    pinned = (
        df.repartitionByRange(n, *[F.col(c) for c in order_by])
        .sortWithinPartitions(*[F.col(c) for c in order_by])
        .withColumn("__pid", F.spark_partition_id())
        .transform(cut)
    )
    # P partition totals, JVM-side -> exclusive scan on the driver
    totals = {
        r["__pid"]: r["__t"] or 0
        for r in pinned.groupBy("__pid")
        .agg(F.sum(value).alias("__t"))
        .collect()
    }
    offsets, acc = {}, 0
    for p in sorted(totals):
        offsets[p] = acc
        acc += totals[p]

    integral = isinstance(
        pinned.schema[value].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    out_type = T.LongType() if integral else T.DoubleType()
    schema = T.StructType(
        [f for f in pinned.schema.fields if f.name != "__pid"]
        + [T.StructField(out, out_type)]
    )

    def scan(batches):
        carry = None
        for pdf in batches:
            if not len(pdf):
                continue
            if carry is None:  # first non-empty batch: partition offset
                carry = offsets.get(int(pdf["__pid"].iloc[0]), 0)
            cum = pdf[value].fillna(0).cumsum() + carry
            carry = cum.iloc[-1]
            pdf = pdf.drop(columns=["__pid"])
            pdf[out] = cum.astype("int64" if integral else "float64")
            yield pdf

    return pinned.mapInPandas(scan, schema)
