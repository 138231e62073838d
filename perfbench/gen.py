"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* landing CSV files in the shape of the reference's SFTP drops: raw
  ``DE_PARA`` headers, mixed ``;``/``,`` separators, utf-8 / utf-8-sig /
  cp1252 encodings with accented values, a few quoted separators,
  ragged rows and blank lines, and planted files that fail the header
  gate. For every file the generator also returns the staging rows the
  robust reader must produce from it, which feed the DuckDB oracle.
* fixture tables in the ``TESTDATA.md``-style star schema (orders,
  lineitem, events, documents, embeddings, ...), written as parquet for
  the query suite.

The program under test only ever sees the written files.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from sftp_data_ingestion_spark.schemas import DE_PARA, STG_COLUMNS

# staging columns a CSV carries (arquivo_origem comes from the file name)
FILE_COLS = [c for c in STG_COLUMNS if c != "arquivo_origem"]

# raw header per staging column: the first DE_PARA spelling, except the
# three "Data Prev. Entrega Original" variants, which rotate per file
_RAW: dict[str, str] = {}
for _raw, _col in DE_PARA.items():
    _RAW.setdefault(_col, _raw)
_PREV_ORIG_VARIANTS = [r for r, c in DE_PARA.items()
                       if c == "data_prev_entrega_original"]

_NAMES = ["José da Silva", "Conceição Araújo", "João Gonçalves",
          "Mônica Lúcia", "Ângela Simões", "Márcio Antônio", "Inês Brandão",
          "Luís Magalhães"]
_CITIES = ["São Paulo", "Ribeirão Preto", "Florianópolis", "Maceió",
           "Goiânia", "Belém", "Niterói", "Vitória"]
_BAIRROS = ["Sé", "Jardim América", "Consolação", "Água Branca", "Tatuapé"]
_OCORRENCIAS = ["Entregue", "Em trânsito", "Saiu para entrega",
                "Aguardando coleta", "Destinatário ausente"]
_CARRIERS = ["Transportes Ágil", "Rápido Paulista", "Expresso Jundiaí"]
_UF = ["SP", " rj ", "M1G", "mg", "XYZW", "P", "ba"]
_DIALECTS = [(";", "utf-8"), (",", "utf-8-sig"), (";", "cp1252"),
             (",", "cp1252"), (";", "utf-8-sig"), (",", "utf-8")]
_T0 = datetime(2024, 1, 1, 6, 0, 0)


def _fmt_date(rng: random.Random, d: datetime, styles: tuple[str, ...]) -> str:
    style = rng.choice(styles)
    if style == "dmy":
        return d.strftime("%d/%m/%Y")
    if style == "dmy-":
        return d.strftime("%d-%m-%Y")
    if style == "iso":
        return d.strftime("%Y-%m-%d")
    if style == "sentinel":
        return "00/00/0000"
    return ""


def _fmt_ts(rng: random.Random, t: datetime) -> str:
    if rng.random() < 0.5:
        return t.strftime("%d/%m/%Y %H:%M:%S")
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _fmt_money(rng: random.Random, v: float) -> str:
    """Locale-mixed decimal strings the cleaning cascade must parse."""
    cents = f"{v:.2f}"
    whole, frac = cents.split(".")
    grouped = f"{int(whole):,}"
    style = rng.randrange(4)
    if style == 0:  # pt-BR with thousands
        return grouped.replace(",", ".") + "," + frac
    if style == 1:  # en-US with thousands
        return grouped + "." + frac
    if style == 2:  # pt-BR bare
        return whole + "," + frac
    return cents


def _key(k: int) -> str:
    return str(k).rjust(44, "0")


@dataclass
class LandingFile:
    """One generated landing file and what the reader must make of it."""

    name: str
    sep: str
    encoding: str
    rows: list[dict[str, str]] = field(default_factory=list)
    bad: bool = False  # planted to fail the header gate


class LandingGenerator:
    """Stateful, seeded generator of landing batches.

    Keeps the latest ``data_ultima_ocr`` it sent per key, so later
    batches can carry newer updates, stale updates that must lose, and
    fill-the-blanks values for columns an earlier row left empty."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seed = seed
        self.last_ocr: dict[int, datetime] = {}
        self.next_key = 1
        self.serial = 0
        self.n_files = 0

    # -- rows ---------------------------------------------------------

    def _row(self, k: int | None, ocr: datetime | None, fresh: bool) -> dict:
        rng = self.rng
        self.serial += 1
        s = self.serial
        # every row gets a unique, parseable data_insercao: the dedup's
        # tie-break is total, and cmd_upsert never falls back to now()
        ins = _T0 + timedelta(seconds=s)
        odate = _T0 - timedelta(days=30 + (k or s) % 900)
        if k is None:
            chave = rng.choice(["BAD-KEY", "", _key(s)[:43]])
        elif rng.random() < 0.05:
            chave = _key(k)[:8] + "." + _key(k)[8:]  # punctuated, still valid
        else:
            chave = _key(k)
        # fresh keys leave some columns blank for later batches to fill
        blank = fresh and rng.random() < 0.3
        ocr_s = "" if ocr is None else _fmt_ts(rng, ocr)
        return {
            "id": str(s),
            "data_insercao": _fmt_ts(rng, ins),
            "tipo_entrega": rng.choice(["normal", "expressa", " normal "]),
            "pedido": f"P;{s}" if s % 17 == 0 else f"P-{s}",
            "data_nfe": _fmt_date(rng, odate, ("dmy", "dmy", "iso", "sentinel")),
            "serie_nfe": "1",
            "numero_nfe": str(k if k is not None else s),
            "valor_nfe": _fmt_money(rng, rng.uniform(10, 250000)),
            "qtd_volumes": f"{rng.randrange(1, 40)} vol",
            "peso": f"{rng.uniform(0.1, 900):.3f}",
            "remessa": "" if blank else f"R{s % 997}",
            "nome_destinatario": f"  {rng.choice(_NAMES)}  ",
            "endereco_completo": f"Rua {rng.choice(_CITIES)}, {s % 900}",
            "cep": f"{rng.randrange(10000, 99999)}-{rng.randrange(100, 999)}",
            "cod_cd": str(rng.randrange(1, 60)),
            "cd": f"CD {rng.choice(_CITIES)}",
            "cnpj_cpf_transportadora": f"12.345.678/0001-{s % 100:02d}",
            "transportador": "" if blank else rng.choice(_CARRIERS),
            "lead_time": str(rng.randrange(1, 15)),
            "data_prev_entrega": _fmt_date(
                rng, odate + timedelta(days=rng.randrange(2, 20)),
                ("iso", "dmy", "dmy-"),
            ),
            "status_prazo": rng.choice(["No prazo", "Atrasado", "Antecipado"]),
            "id_ult_ocr": str(rng.randrange(1, 99)),
            "ultima_ocorrencia": rng.choice(_OCORRENCIAS),
            "chave_ult_ocr": f"OC{s}",
            "data_ultima_ocr": ocr_s,
            "agrupador": "",
            "endereco": "" if blank else f"Av. {rng.choice(_CITIES)}",
            "numero": str(s % 3000),
            "bairro": rng.choice(_BAIRROS),
            "cidades": rng.choice(_CITIES),
            "uf": rng.choice(_UF),
            "etiquetas": "",
            "chegada_transportadora": "" if blank else _fmt_ts(
                rng, ins - timedelta(hours=rng.randrange(1, 48))),
            "cod_vendedor": "" if blank else f"V{s % 40}",
            "chave_nfe": chave,
            "qtd_itens": str(rng.randrange(1, 30)),
            "data_prev_entrega_original": _fmt_date(
                rng, odate + timedelta(days=10), ("dmy-", "dmy", "")),
            "cpf_destinatario": "" if blank else "123.456.789-01",
            "grau_risco": rng.choice(["baixo", "médio", "alto"]),
            "tipo_operacao": rng.choice(["venda", "devolução"]),
        }

    def _new_ocr(self, k: int) -> datetime:
        base = self.last_ocr.get(k, _T0 - timedelta(days=10))
        t = base + timedelta(seconds=self.rng.randrange(3600, 5 * 86400))
        self.last_ocr[k] = t
        return t

    def batch_rows(self, n: int, new_share: float) -> list[dict]:
        """``n`` staging rows: new keys, newer updates, stale updates,
        NULL-ocr rows, NULL/bad keys and within-batch duplicates."""
        rng = self.rng
        rows = []
        known = list(self.last_ocr)
        while len(rows) < n:
            r = rng.random()
            if not known or r < new_share:
                k = self.next_key
                self.next_key += 1
                rows.append(self._row(k, self._new_ocr(k), fresh=True))
                if rng.random() < 0.03:  # duplicate inside the batch
                    rows.append(self._row(k, self._new_ocr(k), fresh=False))
            elif r < new_share + 0.03:  # NULL/bad key: staged, never in the DW
                ocr = _T0 + timedelta(seconds=rng.randrange(0, 30 * 86400))
                rows.append(self._row(None, ocr, fresh=False))
            else:
                k = rng.choice(known)
                u = rng.random()
                if u < 0.6:  # newer update: wins the newer-wins columns
                    ocr = self._new_ocr(k)
                elif u < 0.9:  # stale update: must lose
                    ocr = self.last_ocr[k] - timedelta(
                        seconds=rng.randrange(60, 86400))
                else:  # NULL ocr: the comparison is unknown, DW keeps its row
                    ocr = None
                rows.append(self._row(k, ocr, fresh=False))
        return rows

    # -- files --------------------------------------------------------

    def batch_files(self, n_rows: int, n_files: int, new_share: float,
                    n_bad: int = 0) -> list[LandingFile]:
        """Split a batch over ``n_files`` files with rotating dialects,
        plus ``n_bad`` files planted to fail the header gate."""
        rows = self.batch_rows(n_rows, new_share)
        files = []
        per = math.ceil(len(rows) / n_files)
        for i in range(n_files):
            sep, enc = _DIALECTS[self.n_files % len(_DIALECTS)]
            self.n_files += 1
            files.append(LandingFile(
                f"pedidos_{self.seed}_{self.n_files:05d}.csv", sep, enc,
                rows[i * per:(i + 1) * per]))
        for f in files:  # lineage: the reader stamps each row's file name
            for row in f.rows:
                row["arquivo_origem"] = f.name
        for _ in range(n_bad):
            self.n_files += 1
            files.append(LandingFile(
                f"pedidos_{self.seed}_{self.n_files:05d}.csv", ";", "utf-8",
                self.batch_rows(5, 0.0), bad=True))
        return files


def write_landing_file(f: LandingFile, directory: str) -> int:
    """Write ``f`` into ``directory``; plants quirks into the text and
    rewrites ``f.rows`` to what the robust reader yields. Returns the
    file size in bytes."""
    rng = random.Random(f.name)
    cols = list(FILE_COLS)
    headers = [_RAW[c] for c in cols]
    headers[cols.index("data_prev_entrega_original")] = _PREV_ORIG_VARIANTS[
        len(f.name) % len(_PREV_ORIG_VARIANTS)]
    if f.bad:  # alien header: fewer than 10 known columns
        headers = [f"campo_{i}" for i in range(len(cols))]
    sep = f.sep
    lines = [sep.join(headers)]
    for i, row in enumerate(f.rows):
        cells = [row[c] for c in cols]
        if i % 97 == 5:  # ragged long row: overflow folds into the last column
            extra = "EXTRA"
            row[cols[-1]] = row[cols[-1]] + sep + extra
            cells = cells + [extra]
        elif i % 89 == 7:  # ragged short row: missing cells read as ""
            for c in cols[-2:]:
                row[c] = ""
            cells = cells[:-2]
        lines.append(sep.join(
            f'"{v}"' if sep in v and j < len(cols) - 1 else v
            for j, v in enumerate(cells)
        ))
        if rng.random() < 0.01:
            lines.append(rng.choice(["", sep * (len(cols) - 1)]))
    text = "\n".join(lines) + "\n"
    path = os.path.join(directory, f.name)
    data = text.encode("utf-8-sig" if f.encoding == "utf-8-sig" else f.encoding)
    with open(path, "wb") as out:
        out.write(data)
    return len(data)


def write_history(warehouse: str, files: list[LandingFile]) -> None:
    """Write ``hist/`` and ``ledger/`` as earlier cron runs would have
    left them after loading ``files`` (all good files, one batch)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [r for f in files for r in f.rows]

    def stamp(n: int) -> pa.Array:
        return pa.array([_T0] * n, pa.timestamp("us", tz="UTC"))

    hist = pa.table({c: pa.array([r[c] for r in rows], pa.string()) for c in STG_COLUMNS})
    hist = hist.append_column("processed_ts", stamp(len(rows)))
    hist = hist.append_column("batch_id", pa.array(["bootstrap"] * len(rows)))
    ledger = pa.table({
        "filename": [f.name for f in files],
        "status": ["ok"] * len(files),
        "reason": [""] * len(files),
        "rows_loaded": pa.array([len(f.rows) for f in files], pa.int64()),
        "batch_id": ["bootstrap"] * len(files),
        "processed_ts": stamp(len(files)),
    })
    for name, t in (("hist", hist), ("ledger", ledger)):
        os.makedirs(os.path.join(warehouse, name))
        pq.write_table(t, os.path.join(warehouse, name, "part-00000.parquet"))


# ---------------------------------------------------------------------------
# fixture tables for the query suite
# ---------------------------------------------------------------------------

_WORDS = ("a the key agg row scan slow fast table value part hash line sort "
          "window batch spark order data column join small big customer "
          "query stream filter group merge index shuffle cache plan node "
          "task stage file disk memory").split()
_LANGS = ["en"] * 9 + ["zh", "de", "es", "fr"] * 3


def write_tables(directory: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten fixture tables (``schemas.FIXTURE_TABLES``) as
    parquet; ``scale`` = 1.0 gives the sf0.01 row counts. Returns row
    counts per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rs = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), max(int(100 * scale), 10), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc = n_emb = 500
    n_users = max(int(150 * scale), 20)
    tables: dict[str, pa.Table] = {}

    def money(lo, hi, n):
        return np.round(rs.uniform(lo, hi, n), 2)

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    seg = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": seg[rs.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["red", "old", "cold", "hot", "new", "large", "small", "blue"])
    noun = np.array(["bolt", "anvil", "plate", "widget", "gear", "ring", "rod"])
    ptype = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rs.integers(0, 8, n_part)],
                                              noun[rs.integers(0, 7, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rs.integers(1, 26, n_part)],
        "p_type": ptype[rs.integers(0, 6, n_part)],
        "p_size": pa.array(rs.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    day0 = np.datetime64("1995-01-01", "ms")
    odays = rs.integers(0, 2404, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rs.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(day0 + odays.astype("timedelta64[D]"), pa.timestamp("ms")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rs.integers(0, 5, n_ord)]})
    lok = rs.integers(0, n_ord, n_li)
    flags = rs.integers(0, 6, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rs.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rs.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rs.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rs.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rs.integers(0, 11, n_li) / 100.0,
        "l_tax": rs.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "A", "N", "N", "R", "R"])[flags],
        "l_linestatus": np.array(["O", "F", "F", "O", "F", "O"])[flags],
        "l_shipdate": pa.array(day0 + (odays[lok] + rs.integers(1, 95, n_li))
                               .astype("timedelta64[D]"), pa.timestamp("ms"))})
    # strictly increasing microsecond timestamps over 30 days
    ts_us = np.sort(rs.integers(0, 30 * 86400 * 10**6 - n_ev, n_ev)) + np.arange(n_ev)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"))
                       .astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rs.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rs.integers(0, 5, n_ev)],
        "value": np.round(rs.lognormal(3.0, 1.2, n_ev).clip(0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)]})
    words = np.array(_WORDS)
    texts = [" ".join(words[rs.integers(0, len(words), rs.integers(10, 100))])
             for _ in range(n_doc)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rs.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rs.integers(0, 10, n_emb)
    centers = rs.normal(0, 1, (10, 64))
    vecs = centers[labels] + rs.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    os.makedirs(directory, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
