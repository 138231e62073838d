#!/usr/bin/env python
"""RocksDB admission-state probe: how the stateful LSH admission's
state grows with admitted documents.

`streaming.stream_ingest_neardup_stateful` keeps admitted MinHash
signatures in keyed streaming state (one key per (band_idx,
band_hash) bucket). This probe drains N documents through it in 4
micro-batches under the RocksDB provider at two corpus scales and
reports, per scale:

- admitted docs,
- state rows (numRowsTotal = non-empty buckets),
- state bytes (the provider's own memory/SST metrics),
- wall time of the drain.

The graded statement of the stream-release family names "admitted-
corpus LSH signatures grow linearly with admitted docs" as the 1000x
term; this probe MEASURES that slope on the disk-backed store (state
bytes per admitted doc should be ~constant: bands x 8B x num_hashes
plus bucket overhead).

Run: python scripts/rocksdb_state_probe.py [DOCS]
     (DOCS is the larger scale, default 5000).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sftp_data_ingestion_spark import streaming as st
from sftp_data_ingestion_spark.session import get_spark

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def drain(spark, n_docs: int) -> dict:
    docs = (
        spark.read.parquet(f"{SRC}/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < n_docs)
    )
    work = tempfile.mkdtemp(prefix=f"rocksprobe_{n_docs}_")
    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    for k in range(4):
        tmp = os.path.join(work, f"b{k}")
        docs.where(F.col("doc_id") % 4 == k).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(landing, f"chunk_{k}.parquet")
        os.link(part, dst)
        os.utime(dst, (1_700_000_000 + k * 60,) * 2)
    corpus = os.path.join(work, "corpus", "c")
    ckpt = os.path.join(work, "ckpt")
    prev = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(_PROVIDER_KEY, _ROCKSDB)
    q = None
    t0 = time.time()
    try:
        q = st.stream_ingest_neardup_stateful(
            spark, landing, corpus, ckpt, threshold=0.5
        )
        q.processAllAvailable()
        wall = time.time() - t0
        op = q.lastProgress["stateOperators"][0]
        admitted = spark.read.parquet(corpus).count()
        # check each candidate metric with `is not None` (not an
        # or-chain): a legitimate 0 from the first metric must NOT
        # fall through to the next one, or the two probe scales can
        # report bytes from DIFFERENT sources and skew the
        # bytes-per-admitted-doc slope; record which source won so
        # the JSON is self-describing
        state_bytes, bytes_src = 0, "none"
        for src, val in (
            ("memoryUsedBytes", op.get("memoryUsedBytes")),
            ("stateMemory", op.get("stateMemory")),
            (
                "rocksdbTotalMemoryUsageBytes",
                op["customMetrics"].get("rocksdbTotalMemoryUsageBytes"),
            ),
        ):
            if val is not None:
                state_bytes, bytes_src = int(val), src
                break
        out = {
            "n_docs": n_docs,
            "admitted": admitted,
            "state_rows": int(op["numRowsTotal"]),
            "state_bytes": state_bytes,
            "state_bytes_source": bytes_src,
            "rocksdb_metrics": {
                k: int(v)
                for k, v in op["customMetrics"].items()
                if k
                in (
                    "rocksdbSstFileSize",
                    "rocksdbTotalMemoryUsageBytes",
                )
            },
            "drain_s": round(wall, 2),
        }
    finally:
        if q is not None:
            q.stop()
        if prev is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev)
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    n_big = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    spark = get_spark(app_name="rocksdb-state-probe")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    small = drain(spark, max(n_big // 10, 100))
    big = drain(spark, n_big)
    ratio_rows = (
        big["state_rows"] / small["state_rows"] if small["state_rows"] else None
    )
    ratio_adm = big["admitted"] / small["admitted"] if small["admitted"] else None
    print(
        json.dumps(
            {
                "small": small,
                "big": big,
                "state_rows_ratio": round(ratio_rows, 2) if ratio_rows else None,
                "admitted_ratio": round(ratio_adm, 2) if ratio_adm else None,
            }
        )
    )


if __name__ == "__main__":
    main()
