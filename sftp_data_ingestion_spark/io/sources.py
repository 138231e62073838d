r"""Acquisition layer + processed-file ledger (S1-S5, S10, J3, G3).

The reference's stage 1 (``/root/reference/python/01_ingest_sftp_pedidos.py``)
lists an SFTP directory, skips already-landed files, and downloads with
size verification + 3 retries. Its incrementality mechanism — the ONLY
one in the whole pipeline — is a set difference between the remote
listing and local basenames (:110-114), repeated in stage 2 against the
``lidos``/``erros`` dirs (:107-113).

Spark design: the directory-as-state-machine becomes a LEDGER table
(parquet; Delta in production) with one row per processed file; the set
difference (J3) runs on the driver against the ledger's collected name
column — a listing is a few hundred names, so shipping it to Spark
would cost more than it saves. The network fetch itself
stays out of Spark (a driver/connector concern, exactly as the
reference runs it as its own process); ``RetryingFetcher`` carries the
reference's verify+retry semantics behind a pluggable transport so it
can run under ``sc.parallelize(files).foreachPartition`` for parallel
acquisition at scale.
"""

from __future__ import annotations

import glob as _glob
import os
import posixpath
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sftp_data_ingestion_spark.io.sinks import read_table

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # ok | error
        T.StructField("reason", T.StringType(), True),
        T.StructField("rows_loaded", T.LongType(), True),
        T.StructField("batch_id", T.StringType(), True),
        T.StructField("processed_ts", T.TimestampType(), True),
    ]
)


# ---------------------------------------------------------------------------
# listing (S1, S5) + partial cleanup (S4)
# ---------------------------------------------------------------------------


def list_landing_files(landing_dir: str, pattern: str = "*.csv") -> list[str]:
    """Case-insensitive ``*.csv`` listing in deterministic name order
    (S1's ``upper().endswith(".CSV")`` + S5's sort)."""
    out = [
        p
        for p in _glob.glob(os.path.join(landing_dir, "*"))
        if os.path.isfile(p) and p.upper().endswith(pattern.lstrip("*").upper())
    ]
    return sorted(out, key=os.path.basename)


def clean_partials(landing_dir: str) -> int:
    """S4: remove ``*.part`` leftovers from interrupted downloads."""
    n = 0
    for p in _glob.glob(os.path.join(landing_dir, "*.part")):
        os.remove(p)
        n += 1
    return n


# ---------------------------------------------------------------------------
# ledger (S3/S10/J3)
# ---------------------------------------------------------------------------


def read_ledger(spark: SparkSession, ledger_path: str) -> DataFrame | None:
    """Ledger table, or ``None`` before the first load."""
    return read_table(spark, ledger_path, LEDGER_SCHEMA)


def new_files(
    spark: SparkSession, listing: list[str], ledger: DataFrame | None
) -> list[str]:
    """S3/S10: set difference of the listing against processed
    basenames (lowercased, as the reference compares). The ledger side
    is one collected column; the listing never leaves the driver.
    Returns full paths in deterministic order."""
    if not listing or ledger is None:  # no ledger yet: all files new
        return sorted(listing)
    seen = {r[0] for r in ledger.select(F.lower("filename")).collect()}
    return sorted(p for p in listing if os.path.basename(p).lower() not in seen)


def record_results(
    spark: SparkSession,
    ledger_path: str,
    entries: list[dict],
    batch_id: str,
) -> None:
    """Append one ledger row per processed file (from pandas, so the
    rows reach the JVM over Arrow, not through a Python worker)."""
    if not entries:
        return
    import pandas as pd

    rows = [
        (
            os.path.basename(e["path"]),
            e["status"],
            e.get("reason", ""),
            int(e.get("rows_loaded", 0)),
            batch_id,
        )
        for e in entries
    ]
    pdf = pd.DataFrame(
        rows, columns=["filename", "status", "reason", "rows_loaded", "batch_id"]
    )
    df = spark.createDataFrame(
        pdf, "filename string, status string, reason string, "
        "rows_loaded long, batch_id string"
    ).withColumn("processed_ts", F.current_timestamp())
    df.write.mode("append").parquet(ledger_path)


# ---------------------------------------------------------------------------
# acquisition protocol (S1, S2): transport-pluggable verified fetch
# ---------------------------------------------------------------------------

RETRIES = 3  # reference 01:25
SLEEP_BETWEEN = 2.0  # reference 01:26


@dataclass
class RemoteFile:
    name: str
    size: int


class LocalDirSource:
    """Filesystem-backed source — the test double for SFTP (same
    protocol: list + fetch + expected size)."""

    def __init__(self, root: str):
        self.root = root

    def list_files(self) -> list[RemoteFile]:
        out = []
        for p in sorted(_glob.glob(os.path.join(self.root, "*"))):
            if os.path.isfile(p) and p.upper().endswith(".CSV"):
                out.append(RemoteFile(os.path.basename(p), os.path.getsize(p)))
        return out

    def fetch(self, name: str, dest: str) -> None:
        import shutil

        shutil.copy2(os.path.join(self.root, name), dest)


class SFTPSource:
    """paramiko-backed source (S1/S2) mirroring the reference's stage 1
    behavior (/root/reference/python/01_ingest_sftp_pedidos.py:41-88):
    one Transport + SFTPClient per source, directory listing filtered
    to ``*.CSV`` with remote sizes (feeding S2's size-verified fetch),
    ``get()`` per download.

    The container has no paramiko (and no way to install it), so
    construction fails fast with the documented dependency. Coverage
    is two-tier: the in-memory double (``tests/test_io.py``) checks
    listing/fetch/close call ordering, and ``tests/test_sftp_wire.py``
    drives this class over a REAL loopback TCP server through a
    socket-speaking paramiko double — live connection lifecycle,
    auth-reject socket teardown, streamed transfer, and a
    mid-transfer truncation exercising S2's retry. Only the SSH
    framing itself stays environment-blocked."""

    def __init__(self, host: str, port: int, username: str, password: str,
                 remote_dir: str):
        try:
            import paramiko
        except ImportError as exc:
            raise NotImplementedError(
                "SFTPSource requires paramiko (pip install paramiko); "
                "protocol mirrors /root/reference/python/"
                "01_ingest_sftp_pedidos.py:41-60"
            ) from exc
        self._transport = paramiko.Transport((host, port))
        try:
            self._transport.connect(username=username, password=password)
            self._sftp = paramiko.SFTPClient.from_transport(self._transport)
        except Exception:
            # auth/negotiation failure: close the socket + transport
            # thread Transport() already started, or retrying callers
            # leak one connection per attempt
            self._transport.close()
            raise
        self.remote_dir = remote_dir

    def list_files(self) -> list[RemoteFile]:
        """S1: remote dir listing, ``.CSV`` only (case-insensitive,
        reference 01:46-49), with sizes for the verified fetch; sorted
        for S5 deterministic processing order."""
        out = [
            RemoteFile(attr.filename, attr.st_size)
            for attr in self._sftp.listdir_attr(self.remote_dir)
            if attr.filename.upper().endswith(".CSV")
        ]
        return sorted(out, key=lambda f: f.name)

    def fetch(self, name: str, dest: str) -> None:
        self._sftp.get(posixpath.join(self.remote_dir, name), dest)

    def close(self) -> None:
        try:
            self._sftp.close()
        finally:
            self._transport.close()

    def __enter__(self) -> "SFTPSource":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class RetryingFetcher:
    """S2: fetch to ``<name>.part``, verify size, atomic rename; delete
    and retry (3x, 2s) on mismatch — the reference's verified download
    (01:62-88) with the write-temp+rename upgrade that makes S4's
    partial cleanup race-free."""

    def __init__(self, source, retries: int = RETRIES,
                 sleep_between: float = SLEEP_BETWEEN,
                 sleep_fn: Callable[[float], None] = time.sleep):
        self.source = source
        self.retries = retries
        self.sleep_between = sleep_between
        self.sleep_fn = sleep_fn

    def fetch_verified(self, rf: RemoteFile, landing_dir: str) -> bool:
        dest = os.path.join(landing_dir, rf.name)
        part = dest + ".part"
        for attempt in range(1, self.retries + 1):
            try:
                self.source.fetch(rf.name, part)
                if os.path.getsize(part) == rf.size:
                    os.replace(part, dest)  # atomic within the dir
                    return True
                os.remove(part)
            except Exception:  # noqa: BLE001 — mirror reference catch-all
                if os.path.exists(part):
                    os.remove(part)
            if attempt < self.retries:
                self.sleep_fn(self.sleep_between)
        return False

    def ingest(self, landing_dir: str, skip_existing: bool = True) -> dict:
        """Stage-1 main loop (01:90-134): list, skip existing (S3),
        verified fetch, G3 counters."""
        os.makedirs(landing_dir, exist_ok=True)
        clean_partials(landing_dir)
        have = {
            os.path.basename(p).lower()
            for p in _glob.glob(os.path.join(landing_dir, "*"))
        }
        stats = {"fetched": 0, "skipped": 0, "failed": 0}
        for rf in sorted(self.source.list_files(), key=lambda r: r.name):
            if skip_existing and rf.name.lower() in have:
                stats["skipped"] += 1
                continue
            if self.fetch_verified(rf, landing_dir):
                stats["fetched"] += 1
            else:
                stats["failed"] += 1
        return stats
