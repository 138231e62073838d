"""`landing_text` — a Spark 4 Python DataSource for messy landing
directories.

The reference engine's ingest stage walks an SFTP landing directory
of heterogeneous CSVs (mixed encodings, separators, BOMs —
`/root/reference/python/02_load_stage_pedidos.py`). This engine's
batch path (`io/csv_robust.py`) already handles that with grouped
`spark.read` scans, but the per-file encoding sniff runs on the
DRIVER — at a million files that loop is the bottleneck. This module
packages the same detection logic as a proper pluggable source:

    spark.dataSource.register(LandingTextDataSource)
    spark.read.format("landing_text").load("/path/to/landing")
      -> (path string, line_no bigint, value string)

Scale shape: one `InputPartition` per file, so the query planner
schedules one task per file across the cluster and EVERYTHING —
open, BOM strip, UTF-8-vs-Latin-1 detection, decode, line split —
runs executor-side; the driver only lists the directory. Files with
different encodings land in ONE DataFrame in one scan (the grouped
batch reader needs one scan per encoding group). Downstream, the
same Column-level robust-CSV parse (`csv_robust.parse_lines`)
applies unchanged.

Detection mirrors `csv_robust.decode_head` byte for byte: UTF-8 BOM
wins, then strict-UTF-8 validity over the whole file (the head-sniff
ambiguity disappears because the executor holds the full bytes), else
Latin-1 (which never fails — every byte decodes).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_SCHEMA = "path string, line_no bigint, value string"


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class LandingTextReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("landing_text: .load(path) is required")
        self.suffix = options.get("suffix", ".csv")

    def partitions(self):
        # driver does ONLY this listing; deterministic order (S5)
        names = sorted(
            n
            for n in os.listdir(self.path)
            if n.endswith(self.suffix)
            and not n.startswith(".")
            and os.path.isfile(os.path.join(self.path, n))
        )
        bad = [n for n in names if "\n" in n]
        if bad:
            # the streaming offset encodes the seen set newline-joined;
            # a newline in a (POSIX-legal) filename would corrupt it
            # into fragment paths. Reject loudly rather than corrupt.
            raise ValueError(
                f"landing_text: filenames containing newlines are not "
                f"supported: {bad!r}"
            )
        return [_FilePartition(os.path.join(self.path, n)) for n in names]

    def read(self, partition):
        # executor-side: full-file decode with per-file encoding
        # detection, mirroring the batch path byte for byte
        # (csv_robust.decode_head / read_lines): BOM > strict UTF-8 >
        # cp1252-as-delivered-by-the-batch-path (latin-1 + the same
        # 0x80-0x9F translate table, so smart quotes/dashes in
        # Windows-encoded files come out identical on both paths)
        from sftp_data_ingestion_spark.io.csv_robust import (
            _CP1252_FROM,
            _CP1252_TO,
        )

        with open(partition.path, "rb") as f:
            raw = f.read()
        if raw.startswith(b"\xef\xbb\xbf"):
            text = raw[3:].decode("utf-8", errors="replace")
        else:
            try:
                text = raw.decode("utf-8")
            except UnicodeDecodeError:
                text = raw.decode("latin-1").translate(
                    str.maketrans(_CP1252_FROM, _CP1252_TO)
                )
        # record separators exactly as Spark's text/csv line reader:
        # \r\n, \r, \n ONLY — splitlines() would also split on
        # NEL/U+2028/U+2029/\f/\v, cutting records the batch path
        # keeps whole (an in-field U+2028 must stay in the field)
        norm = text.replace("\r\n", "\n").replace("\r", "\n")
        lines = norm.split("\n")
        if lines and lines[-1] == "":
            lines.pop()  # trailing newline is a terminator, not a row
        for i, line in enumerate(lines):
            yield (partition.path, i, line)


class LandingTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "landing_text"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema: StructType) -> LandingTextReader:
        return LandingTextReader(self.options)

    def streamReader(self, schema: StructType):
        return LandingTextStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        if "value" not in schema.fieldNames():
            raise ValueError(
                "landing_text writer: input needs a 'value' string column"
            )
        return LandingTextWriter(self.options, overwrite)


def register(spark) -> None:
    """Register the source on a session (idempotent)."""
    spark.dataSource.register(LandingTextDataSource)


# ---------------------------------------------------------------------------
# streaming flavor: the reference's cron "process new files" loop as a
# first-class micro-batch source
# ---------------------------------------------------------------------------


class LandingTextStreamReader(DataSourceStreamReader):
    """Micro-batch reader whose offset IS the processed-file ledger —
    exactly the reference's incremental contract (S3/S10: a batch =
    files not yet in the ledger), but checkpointed by the engine
    instead of a hand-rolled database table. ``partitions(start,
    end)`` plans one task per NEW file; replays after a crash re-read
    the same file set because the offset is stored in the streaming
    checkpoint.

    The offset encodes the seen-file set as a sorted newline-joined
    string — fine for directory-scale landing zones and exact under
    out-of-order arrival (a new file sorting BEFORE old ones is still
    detected, unlike an mtime/name high-watermark). A million-file
    deployment would swap the encoding for a compacted ledger id; the
    planner contract stays the same."""

    def __init__(self, options):
        self.inner = LandingTextReader(options)

    def _list(self) -> list[str]:
        return [p.path for p in self.inner.partitions()]

    def initialOffset(self) -> dict:
        return {"seen": ""}

    def latestOffset(self) -> dict:
        return {"seen": "\n".join(self._list())}

    def partitions(self, start: dict, end: dict):
        seen = set(filter(None, start.get("seen", "").split("\n")))
        now = [p for p in filter(None, end.get("seen", "").split("\n"))]
        return [_FilePartition(p) for p in now if p not in seen]

    def read(self, partition):
        return self.inner.read(partition)

    def commit(self, end: dict) -> None:
        pass  # the checkpoint holds the ledger; nothing external to ack

    def stop(self) -> None:
        pass


# ---------------------------------------------------------------------------
# write flavor: two-phase-commit text shard publisher (the W side of
# the source — DataSource.writer, Spark 4)
# ---------------------------------------------------------------------------


class _ShardCommit(WriterCommitMessage):
    def __init__(self, tmp_name: str, n_rows: int):
        self.tmp_name = tmp_name
        self.n_rows = n_rows


class LandingTextWriter(DataSourceWriter):
    """Per-task text shards published atomically via manifest commit —
    the archive stage's exactly-once contract (A1) enforced at the
    SINK API level instead of inside an operator:

    * ``write`` (executor, once per partition) streams the partition's
      ``value`` column to ``_tmp_<uuid>.txt`` — a name no reader ever
      trusts — and returns ``(tmp_name, n_rows)`` as its commit
      message;
    * ``commit`` (driver, only if EVERY task succeeded) renames each
      temp shard to its final ``part-NNNNN.txt`` name (rename is atomic
      on POSIX) and then writes ``_MANIFEST`` listing every shard +
      row count — readers that trust only manifested shards can never
      observe a torn job;
    * ``abort`` deletes whatever temp shards the failed job left, so a
      crashed write leaves no visible state at all.

    Speculative/retried tasks are safe: each attempt writes its own
    uuid-named temp, and only the attempts whose messages reach
    ``commit`` get renamed — orphaned attempt files keep the ``_tmp_``
    prefix and are invisible.

    Scale shape: the driver handles one tiny message per task and
    |tasks| renames; all byte traffic is executor-local. At 100 TB the
    rename fan-out is the same O(files) metadata pass every
    manifest-committing table format (Iceberg/Delta) performs."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("landing_text: .save(path) is required")
        self.overwrite = overwrite

    def write(self, iterator):
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = f"_tmp_{uuid.uuid4().hex}.txt"
        n = 0
        with open(os.path.join(self.path, tmp), "w", encoding="utf-8") as f:
            for row in iterator:
                v = row["value"]
                f.write("" if v is None else str(v))
                f.write("\n")
                n += 1
        return _ShardCommit(tmp, n)

    def commit(self, messages):
        manifest = os.path.join(self.path, "_MANIFEST")
        if os.path.exists(manifest) and not self.overwrite:
            raise FileExistsError(
                f"landing_text: {manifest} exists; use mode('overwrite')"
            )
        lines = []
        for i, m in enumerate(sorted(
            (m for m in messages if m is not None),
            key=lambda m: m.tmp_name,
        )):
            final = f"part-{i:05d}.txt"
            os.replace(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, final),
            )
            lines.append(f"{final}\t{m.n_rows}")
        tmp_manifest = manifest + ".tmp"
        with open(tmp_manifest, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + ("\n" if lines else ""))
        os.replace(tmp_manifest, manifest)  # the atomic publish point

    def abort(self, messages):
        for m in messages:
            if m is None:
                continue
            try:
                os.remove(os.path.join(self.path, m.tmp_name))
            except FileNotFoundError:
                pass


def read_manifested(spark, path: str):
    """Read back ONLY the shards the manifest published (the reader
    contract that makes the two-phase commit exactly-once: temp files
    and orphaned attempts are invisible by construction)."""
    manifest = os.path.join(path, "_MANIFEST")
    with open(manifest, encoding="utf-8") as f:
        shards = [ln.split("\t")[0] for ln in f.read().splitlines() if ln]
    if not shards:
        from pyspark.sql.types import StringType

        return spark.createDataFrame([], StringType()).toDF("value")
    return spark.read.text([os.path.join(path, s) for s in shards])
