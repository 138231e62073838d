r"""Robust CSV reader — the reference's stage-2 entry path (S6a-d, S7).

Reference behavior (``/root/reference/python/02_load_stage_pedidos.py:115-167``):

* S6a separator sniff: count ``, ; | \t`` over the first 201 lines,
  max wins (tie -> candidate order, ',' first).
* encoding chain cp1252 -> latin-1 -> utf-8-sig -> utf-8, each opened
  with ``errors="replace"`` — which means cp1252 never raises, so the
  chain's OUTCOME is simply "decode as cp1252 with replacement"; we
  reproduce the outcome, not the dead loop (SURVEY.md §7.4).
* quote-aware parse (``csv.reader`` with ``quotechar='"'``,
  ``doublequote=True``), blank-row drop, BOM/whitespace header strip.
* S6b ragged repair on PARSED cells: longer rows fold the overflow
  into the last column joined with the separator; shorter rows pad "".
* S7 gate: >= 10 raw headers recognized in DE_PARA, else reject.

Spark design: header + sniff happen driver-side on the file HEAD only
(a few KB — same work the reference does, and per-file parameters like
the separator genuinely vary per file). The body parse is distributed:
one ``spark.read`` per (encoding, separator, header) group, each line
split once (quote-aware only when it holds a ``"``) and repaired as
pure Column expressions. At 249 files/batch (BASELINE.md) groups collapse to a
handful of scans; at 100 TB the same grouping bounds scan count while
each scan parallelizes by file/block.

Known deltas from csv.reader, both documented: (a) multi-line quoted
fields are not supported (line-based split); (b) a data line that is
byte-identical to the header line is treated as a repeated header and
dropped (the reference drops only row 0).
"""

from __future__ import annotations

import codecs
import csv
import io as _io
import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.operators.conform import (
    conform_headers,
    header_valid,
)

SEP_CANDIDATES = (",", ";", "|", "\t")
SNIFF_LINES = 201  # reference loop bound (02:120-121)
_HEAD_BYTES = 256 * 1024

# split on the separator only when outside double quotes (balanced-
# quote lookahead — covers quoted fields containing the separator and
# doubled "" escapes, the classes the fixtures exercise)
_QUOTE_AWARE = '(?=(?:[^"]*"[^"]*")*[^"]*$)'


def decode_head(path: str, n_bytes: int = _HEAD_BYTES) -> tuple[str, str]:
    """Decode the file head exactly as the reference's encoding chain
    resolves: cp1252 with replacement (utf-8-sig BOM bytes survive
    cp1252 decoding as '﻿'-equivalent junk chars the header strip
    removes — see _normalize_header in conform). Returns ``(text,
    encoding)``; the encoding is the one the body parse uses."""
    with open(path, "rb") as f:
        raw = f.read(n_bytes)
    if raw.startswith(codecs.BOM_UTF8):
        # utf-8-sig files: the BOM identifies them; decode as utf-8 so
        # accented headers round-trip (cp1252-decoding utf-8 bytes
        # would mangle "Inserção" -> header gate could still pass, but
        # parity of header TEXT matters for DE_PARA)
        return raw[len(codecs.BOM_UTF8):].decode("utf-8", errors="replace"), "utf-8"
    if _utf8_valid(raw, truncated=len(raw) == n_bytes):
        return raw.decode("utf-8", errors="replace"), "utf-8"
    return raw.decode("cp1252", errors="replace"), "cp1252"


def _utf8_valid(raw: bytes, truncated: bool) -> bool:
    """UTF-8 validity probe that tolerates a multibyte sequence cut by
    the fixed-size prefix read: with ``truncated`` the incremental
    decoder buffers an incomplete trailing sequence instead of raising,
    so a valid UTF-8 file larger than the probe window is not
    misclassified as cp1252 (whole-body mojibake)."""
    try:
        codecs.getincrementaldecoder("utf-8")().decode(raw, final=not truncated)
        return True
    except UnicodeDecodeError:
        return False


def sniff_separator(head: str) -> str:
    """S6a: frequency argmax over the first 201 lines, tie -> ','."""
    counts = {c: 0 for c in SEP_CANDIDATES}
    for i, line in enumerate(head.splitlines()):
        if i > SNIFF_LINES - 1:
            break
        for c in SEP_CANDIDATES:
            counts[c] += line.count(c)
    return max(counts, key=counts.get)


def parse_header(head: str, sep: str) -> list[str]:
    """First non-blank row, csv-parsed with the reference's reader
    options, stripped of BOM/whitespace (S6c applies before the header
    pick: leading blank rows are skipped)."""
    reader = csv.reader(
        _io.StringIO(head),
        delimiter=sep,
        quotechar='"',
        doublequote=True,
        escapechar="\\",
        strict=False,
    )
    for row in reader:
        if any(str(cell).strip() != "" for cell in row):
            return [h.strip().replace("﻿", "") for h in row]
    return []


@dataclass
class FilePlan:
    """Driver-side read plan for one landing file."""

    path: str
    encoding: str = "cp1252"
    sep: str = ","
    header: list[str] = field(default_factory=list)
    header_line: str = ""
    valid: bool = False
    reason: str = ""

    @property
    def group_key(self) -> tuple:
        return (self.encoding, self.sep, tuple(self.header))


def plan_file(path: str) -> FilePlan:
    """Sniff + header-gate one file (head-only IO)."""
    try:
        head, enc = decode_head(path)
    except OSError as exc:
        return FilePlan(path=path, valid=False, reason=f"io: {exc}")
    if not head.strip():
        return FilePlan(path=path, valid=False, reason="empty file")
    sep = sniff_separator(head)
    header = parse_header(head, sep)
    first_line = next(
        (ln for ln in head.splitlines() if ln.strip() != ""), ""
    )
    if not header:
        return FilePlan(path, enc, sep, [], "", False, "no header row")
    if not header_valid(header):
        return FilePlan(
            path, enc, sep, header, first_line, False,
            "header gate: <10 known columns",
        )
    return FilePlan(path, enc, sep, header, first_line, True, "")


# ---------------------------------------------------------------------------
# distributed body parse
# ---------------------------------------------------------------------------


def _unquote(cell: Column) -> Column:
    """csv-reader unquoting: strip one outer quote pair, un-double
    inner quotes ((?s): a quoted cell may contain embedded newlines
    from a joined multi-line record)."""
    quoted = cell.rlike('(?s)^".*"$')
    inner = F.regexp_replace(
        F.substring(cell, 2, F.length(cell) - 2), '""', '"'
    )
    return F.when(quoted, inner).otherwise(cell)


# Spark's CSV charset whitelist has no cp1252; iso-8859-1 decodes every
# byte identically EXCEPT 0x80-0x9F, which this 1:1 translate fixes up
# (undefined cp1252 codepoints become U+FFFD — the reference's
# errors="replace" outcome).
_CP1252_FROM = "".join(chr(b) for b in range(0x80, 0xA0))
_CP1252_TO = "".join(
    bytes([b]).decode("cp1252", errors="replace") for b in range(0x80, 0xA0)
)


def read_lines(
    spark: SparkSession, paths: list[str], encoding: str
) -> DataFrame:
    """Read raw lines with an explicit encoding. The csv source is
    used as a line reader (unused control chars as sep/quote) because
    the text source has no encoding option."""
    charset = "iso-8859-1" if encoding == "cp1252" else encoding
    df = (
        spark.read.schema("value STRING")
        .options(
            encoding=charset,
            sep="\x01",
            quote="\x00",
            header=False,
            mode="PERMISSIVE",
            multiLine=False,
        )
        .csv(paths)
    )
    if encoding == "cp1252":
        df = df.select(
            F.translate("value", _CP1252_FROM, _CP1252_TO).alias("value")
        )
    return df


def _n_quotes() -> Column:
    return F.length("value") - F.length(F.replace("value", F.lit('"'), F.lit("")))


def _has_multiline_quoted_fields(parts: list[DataFrame]) -> list[bool]:
    """Cheap detector for quoted fields containing newlines: a record
    that spans physical lines necessarily leaves a line with an ODD
    number of quote chars (doubled "" escapes count 2 and keep parity
    even). One flag per frame, from one column-pruned job."""
    odd = reduce(
        DataFrame.union,
        [p.where(_n_quotes() % 2 == 1).select(F.lit(i).alias("i"))
         for i, p in enumerate(parts)],
    )
    hit = set(odd.agg(F.collect_set("i")).first()[0])
    return [i in hit for i in range(len(parts))]


def _scan_quote_state(
    line: str, sep: str, in_quote: bool, at_field_start: bool
) -> tuple[bool, bool]:
    """Advance csv.reader's quoting state across one physical line:
    a quote OPENS a field only at field start (a stray mid-field quote
    is a literal char, exactly as the non-strict reader treats it);
    inside a quoted field ``""`` is an escaped quote that stays
    in-field. The end-of-line state decides whether the record
    continues onto the next physical line."""
    i, n = 0, len(line)
    while i < n:
        ch = line[i]
        if in_quote:
            if ch == '"':
                if i + 1 < n and line[i + 1] == '"':
                    i += 2  # escaped "" stays inside the field
                    continue
                in_quote = False
                at_field_start = False
        elif ch == '"' and at_field_start:
            in_quote = True
            at_field_start = False
        else:
            at_field_start = ch == sep
        i += 1
    return in_quote, at_field_start


def read_records_multiline(
    spark: SparkSession, paths: list[str], encoding: str, sep: str = ";"
) -> DataFrame:
    """Record-joining read for files with quoted multi-line fields —
    the reference's csv.reader accepts a quoted field containing a
    newline (/root/reference/python/02_load_stage_pedidos.py:146-149),
    which a line-based distributed parse splits into broken rows.

    ``binaryFile`` yields one row per file; record reconstruction is a
    LINEAR scan with csv.reader's quoting state machine (see
    :func:`_scan_quote_state`) over physical lines in ``mapInPandas``
    — the one place this module leaves Column expressions, because a
    quote-balanced record split is inherently sequential per file (a
    regex-lookahead split would be quadratic in file size). Replaying
    the reader's actual rules (not mere quote parity) means a stray
    unpaired quote inside an unquoted field never merges neighboring
    records — so a false-positive trigger from the cheap detector
    costs only the slower path, never correctness. Only files whose
    batch tripped :func:`_has_multiline_quoted_fields` pay this path.
    Parallelism is per-file; memory is bounded by the largest file
    (the reference holds whole files in memory too). Output is the
    same ``value`` line-frame shape, with embedded newlines kept
    inside records, so :func:`parse_lines` applies unchanged.
    """

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                codec = "utf-8" if encoding == "utf-8" else "cp1252"
                text = bytes(content).decode(codec, errors="replace")
                # (utf-8-sig BOM survives as U+FEFF, matching the csv
                # line reader; the header drop strips it)
                records: list[str] = []
                buf: list[str] = []
                in_quote = False
                at_field_start = True
                for line in text.split("\n"):
                    line = line.rstrip("\r")
                    buf.append(line)
                    in_quote, at_field_start = _scan_quote_state(
                        line, sep, in_quote, at_field_start
                    )
                    if not in_quote:
                        records.append("\n".join(buf))
                        buf = []
                        at_field_start = True
                if buf:  # unterminated quote at EOF: emit as-is
                    records.append("\n".join(buf))
                yield pd.DataFrame({"value": records})

    df = spark.read.format("binaryFile").load(paths).select("content")
    return df.mapInPandas(gen, "value string")


def _quote_aware_split(sep: str) -> Column:
    """csv.reader cell boundaries of ``value``, quotes still on."""
    # stray-quote fallback: the balanced-quote lookahead refuses to
    # split any separator ahead of an unpaired quote, collapsing the
    # whole prefix into one cell. csv.reader treats a mid-field quote
    # as a literal char and splits every separator — so for the (rare)
    # odd-quote record, split plain. Joined multi-line records always
    # have balanced quotes, so they never take this branch.
    return F.when(
        _n_quotes() % 2 == 1, F.split("value", re.escape(sep))
    ).otherwise(F.split("value", re.escape(sep) + _QUOTE_AWARE))


def _unquote_repair(cells: Column, sep: str, n: int) -> Column:
    """Unquote split cells, then the ragged repair (02:150-156):
    overflow cells are UNQUOTED first, then re-joined with the
    separator — matching the reference, which joins csv-parsed cells."""
    unquoted = F.transform(cells, _unquote)
    return F.when(
        F.size(cells) > n,
        F.concat(
            F.slice(unquoted, 1, n - 1),
            F.array(F.concat_ws(sep, F.slice(unquoted, n, F.size(cells) - n + 1))),
        ),
    ).otherwise(unquoted)


def parse_lines(
    lines: DataFrame, sep: str, header: list[str], header_line: str
) -> DataFrame:
    """S6b-d as Column expressions: blank filter, header drop,
    quote-aware split, unquote, ragged repair, project to raw headers.
    Each line is split once; a quote-free line takes a plain split whose
    limit ``n`` folds the overflow into the last cell, joined by the
    separator — exactly the ragged repair."""
    n = len(header)
    quoted = F.col("value").contains('"')
    return (
        # S6c: drop rows whose every CELL is blank (the reference's
        # any(cell.strip()) test — ";;;;;" rows count as blank too)
        lines.where(F.trim(F.replace("value", F.lit(sep), F.lit(""))) != "")
        # drop header row(s); the BOM variant covers utf-8-sig files
        # whose first distributed line still carries U+FEFF
        .where(~F.col("value").isin(header_line, "\ufeff" + header_line))
        .select(
            quoted.alias("quoted"),
            F.when(quoted, _quote_aware_split(sep))
            .otherwise(F.split("value", re.escape(sep), n))
            .alias("cells"),
        )
        .select(
            F.when(F.col("quoted"), _unquote_repair(F.col("cells"), sep, n))
            .otherwise(F.col("cells"))
            .alias("c")
        )
        .select(
            # try_element_at: short rows pad with "" (ANSI element_at
            # would throw on the out-of-bounds index)
            *[
                F.coalesce(F.try_element_at("c", F.lit(i + 1)), F.lit("")).alias(h)
                for i, h in enumerate(header)
            ]
        )
    )


def read_csv_robust(
    spark: SparkSession, plan: FilePlan | list[FilePlan]
) -> DataFrame:
    """Read one file (or one GROUP of same-plan files) into the raw
    header-named frame, then conform to the 40-col staging projection
    with lineage (P1/P2/S11)."""
    return _read_groups(spark, [[plan] if isinstance(plan, FilePlan) else plan])


def _read_groups(spark: SparkSession, groups: list[list[FilePlan]]) -> DataFrame:
    """:func:`read_csv_robust` of each group, unioned; one job checks
    every group for multi-line quoted fields."""
    from sftp_data_ingestion_spark.operators.conform import with_lineage

    lines = [read_lines(spark, [p.path for p in g], g[0].encoding) for g in groups]
    parts = []
    for g, ln, multiline in zip(groups, lines, _has_multiline_quoted_fields(lines)):
        p0 = g[0]
        if multiline:  # rare dirty batch: re-read with csv.reader record semantics
            ln = read_records_multiline(spark, [p.path for p in g], p0.encoding, p0.sep)
        raw = parse_lines(ln, p0.sep, p0.header, p0.header_line)
        parts.append(with_lineage(conform_headers(raw)))
    return reduce(DataFrame.unionByName, parts)


def load_landing_batch(
    spark: SparkSession, paths: list[str]
) -> tuple[DataFrame | None, list[FilePlan]]:
    """Plan every file, group accepted ones by (encoding, sep, header)
    and scan each group once; returns (conformed union | None, plans).

    Rejected plans (``valid=False``) carry the quarantine reason — the
    caller routes them (S9) and records the ledger (S10)."""
    plans = [plan_file(p) for p in sorted(paths)]  # S5 deterministic order
    groups: dict[tuple, list[FilePlan]] = {}
    for p in plans:
        if p.valid:
            groups.setdefault(p.group_key, []).append(p)
    return (_read_groups(spark, list(groups.values())) if groups else None), plans
