"""Pipeline-operator queries: W1 dedup, U1/J4 merge, P1/P2 conform,
S13 demotion, J3 ledger anti-join, and the flagship end-to-end
clean -> dedup -> NULL-key-filter slice of stage 3.

Each derives its inputs deterministically from the fixture tables so
the DuckDB oracle can rebuild the identical inputs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sftp_data_ingestion_spark.operators.backfill import demote_typed_to_staging
from sftp_data_ingestion_spark.operators.clean import clean_staging_sql
from sftp_data_ingestion_spark.operators.conform import conform_headers
from sftp_data_ingestion_spark.operators.dedup import latest_per_key
from sftp_data_ingestion_spark.operators.merge import upsert_newer_wins
from sftp_data_ingestion_spark.operators.pipeline import staging_to_delta
from sftp_data_ingestion_spark.queries.registry import query, table
from sftp_data_ingestion_spark.schemas import STG_COLUMNS

# ---------------------------------------------------------------------------
# W1 — latest event per user (the reference dedup window on fixture data)
# ---------------------------------------------------------------------------


@query(
    "w1_latest_event_per_user",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM (
  SELECT e.*, row_number() OVER (
           PARTITION BY user_id
           ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
         ) AS rn
  FROM events e
) WHERE rn = 1
""",
)
def w1_latest_event_per_user(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return latest_per_key(
        e,
        ["user_id"],
        [F.col("ts").desc_nulls_last(), F.col("event_id").desc_nulls_last()],
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


# ---------------------------------------------------------------------------
# W1 generalized — top-k per group (SURVEY §2.11 sorts/top-k)
# ---------------------------------------------------------------------------


@query(
    "w1_top3_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC
         ) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def w1_top3_orders_per_customer(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return latest_per_key(
        o,
        ["o_custkey"],
        [F.col("o_totalprice").desc_nulls_last(), F.col("o_orderkey").asc()],
        k=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# U1/J4 — conditional field-level upsert over derived dw/delta halves
# ---------------------------------------------------------------------------

_DW_SQL = """
SELECT CAST(o_orderkey AS VARCHAR) AS k,
       o_orderdate AS ocr,
       o_orderstatus AS status,
       TIMESTAMP '2024-01-01 00:00:00' AS ins,
       CASE WHEN o_orderkey % 4 = 0 THEN NULL
            ELSE CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) END AS val
FROM orders WHERE o_orderkey % 2 = 0
"""

_DELTA_SQL = """
SELECT CAST(o_orderkey AS VARCHAR) AS k,
       CASE WHEN o_orderkey % 6 = 0 THEN o_orderdate + INTERVAL 10 DAY
            ELSE o_orderdate - INTERVAL 10 DAY END AS ocr,
       'UPD' AS status,
       TIMESTAMP '2024-02-01 00:00:00' AS ins,
       CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) AS val
FROM orders WHERE o_orderkey % 3 = 0
"""


# the one logical merge all three U1 physical paths are graded against
_U1_ORACLE = f"""
WITH dw AS ({_DW_SQL}), delta AS ({_DELTA_SQL})
SELECT
  COALESCE(o.k, n.k) AS k,
  CASE WHEN o.k IS NULL THEN n.ocr WHEN n.k IS NULL THEN o.ocr
       WHEN n.ocr > o.ocr THEN n.ocr ELSE o.ocr END AS ocr,
  CASE WHEN o.k IS NULL THEN n.status WHEN n.k IS NULL THEN o.status
       WHEN n.ocr > o.ocr THEN n.status ELSE o.status END AS status,
  CASE WHEN o.k IS NULL THEN n.ins WHEN n.k IS NULL THEN o.ins
       ELSE greatest(o.ins, n.ins) END AS ins,
  CASE WHEN o.k IS NULL THEN n.val WHEN n.k IS NULL THEN o.val
       ELSE COALESCE(n.val, o.val) END AS val
FROM dw o FULL JOIN delta n ON o.k = n.k
"""


@query("u1_upsert_newer_wins", oracle=_U1_ORACLE)
def u1_upsert_newer_wins(spark, sf_dir):
    dw, delta = _u1_inputs(spark, sf_dir)
    return upsert_newer_wins(
        dw,
        delta,
        key="k",
        newer_col="ocr",
        newer_wins_cols=("ocr", "status"),
        greatest_cols=("ins",),
    )


def _u1_inputs(spark, sf_dir):
    """DataFrame twins of _DW_SQL/_DELTA_SQL (shared by both U1 paths)."""
    o = table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    dw = o.where(key % 2 == 0).select(
        key.cast("string").alias("k"),
        F.col("o_orderdate").alias("ocr"),
        F.col("o_orderstatus").alias("status"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ins"),
        F.when(key % 4 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("o_totalprice").cast("decimal(15,2)").cast("string"))
        .alias("val"),
    )
    delta = o.where(key % 3 == 0).select(
        key.cast("string").alias("k"),
        F.when(
            key % 6 == 0, F.col("o_orderdate") + F.expr("INTERVAL 10 DAY")
        )
        .otherwise(F.col("o_orderdate") - F.expr("INTERVAL 10 DAY"))
        .alias("ocr"),
        F.lit("UPD").alias("status"),
        F.lit("2024-02-01 00:00:00").cast("timestamp").alias("ins"),
        F.col("o_totalprice").cast("decimal(15,2)").cast("string").alias("val"),
    )
    return dw, delta


@query("u1_upsert_partitioned", oracle=_U1_ORACLE)
def u1_upsert_partitioned(spark, sf_dir):
    """The partition-pruned physical path for the SAME logical merge as
    u1_upsert_newer_wins (identical oracle): materialize the DW in the
    hash-bucket layout, merge the delta touching only its buckets, read
    the table back. Exercises write -> prune -> merge -> swap for real
    under the correctness gate."""
    import tempfile
    from functools import partial

    from sftp_data_ingestion_spark.operators.merge import upsert_newer_wins
    from sftp_data_ingestion_spark.operators.upsert_partitioned import (
        read_dw,
        upsert_partitioned,
        write_dw_partitioned,
    )

    dw, delta = _u1_inputs(spark, sf_dir)
    dw_path = tempfile.mkdtemp(prefix="u1_part_") + "/dw"
    write_dw_partitioned(dw, dw_path, key="k", num_buckets=16)
    merge = partial(
        upsert_newer_wins,
        key="k",
        newer_col="ocr",
        newer_wins_cols=("ocr", "status"),
        greatest_cols=("ins",),
    )
    upsert_partitioned(dw_path, delta, merge)
    return read_dw(spark, dw_path)


@query("u1_upsert_bucketed", oracle=_U1_ORACLE)
def u1_upsert_bucketed(spark, sf_dir):
    """The 100 TB MERGE regime, graded: the DW side lives as a
    key-BUCKETED catalog table (`operators/bucketed.write_bucketed` —
    ONE organize-time shuffle when the warehouse is laid down), so
    the full-outer merge join reads HashPartitioning(k) straight off
    the DW scan and plans NO exchange on the warehouse side — only
    the (small) incoming delta shuffles to match. At 100 TB that is
    the difference between re-shuffling the warehouse every batch and
    shuffling just the batch; plan-pinned in
    tests/test_plans.py::test_bucketed_dw_merge_exchange_free.

    Same oracle as `u1_upsert_newer_wins` / `u1_upsert_partitioned`:
    the layout is a physical lever only — all three regimes must
    produce identical rows. Deterministic per-(sf_dir, user) external
    path + table name; rebuilt each call so sweeps stay idempotent."""
    import getpass
    import hashlib
    import os
    import tempfile

    from sftp_data_ingestion_spark.operators.bucketed import write_bucketed
    from sftp_data_ingestion_spark.operators.merge import upsert_newer_wins

    dw, delta = _u1_inputs(spark, sf_dir)
    tag = hashlib.sha1(
        f"{sf_dir}|{getpass.getuser()}".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"u1_bucketed_{tag}")
    write_bucketed(dw, f"u1_dw_bucketed_{tag}", "k", 16, f"{base}/dw")
    return upsert_newer_wins(
        spark.table(f"u1_dw_bucketed_{tag}"),
        delta,
        key="k",
        newer_col="ocr",
        newer_wins_cols=("ocr", "status"),
        greatest_cols=("ins",),
    )


# ---------------------------------------------------------------------------
# P1/P2 — conform: Portuguese headers -> fixed 40-col staging projection
# ---------------------------------------------------------------------------

_CONFORM_SOURCES = {
    "id": "CAST(o_orderkey AS VARCHAR)",
    "data_nfe": "strftime(o_orderdate, '%d/%m/%Y')",
    "valor_nfe": "CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR)",
    "status_prazo": "o_orderpriority",
}

_CONFORM_ORACLE = (
    "SELECT "
    + ", ".join(
        f"{_CONFORM_SOURCES[c]} AS {c}" if c in _CONFORM_SOURCES else f"'' AS {c}"
        for c in STG_COLUMNS
        if c != "arquivo_origem"
    )
    + " FROM orders"
)


@query("p1_p2_conform_headers", oracle=_CONFORM_ORACLE)
def p1_p2_conform_headers(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    raw = o.select(
        F.col("o_orderkey").cast("string").alias("ID"),
        F.date_format("o_orderdate", "dd/MM/yyyy").alias("Data Nfe"),
        F.col("o_totalprice").cast("decimal(15,2)").cast("string").alias("Valor Nfe"),
        F.col("o_orderpriority").alias("Status Prazo"),
        F.col("o_orderstatus").alias("Unknown Extra"),  # dropped by P2
    )
    return conform_headers(raw)


# ---------------------------------------------------------------------------
# S13 — dynamic backfill demotion of a typed table
# ---------------------------------------------------------------------------


@query(
    "s13_backfill_demotion",
    oracle="""
SELECT CAST(o_orderkey AS VARCHAR) AS id,
       strftime(o_orderdate, '%d/%m/%Y %H:%M:%S') AS data_insercao,
       CAST(o_totalprice AS VARCHAR) AS valor_nfe,
       '0' AS qtd_volumes,
       'arquivo_backup_banco' AS arquivo_origem,
       CAST(o_custkey AS VARCHAR) AS cod_vendedor,
       NULL AS cep
FROM orders
""",
)
def s13_backfill_demotion(spark, sf_dir):
    o = table(spark, sf_dir, "orders").withColumnsRenamed(
        {"o_orderkey": "id", "o_orderdate": "data_insercao", "o_totalprice": "valor_nfe"}
    )
    return demote_typed_to_staging(
        o,
        dest_columns=[
            "id", "data_insercao", "valor_nfe", "qtd_volumes",
            "arquivo_origem", "cod_vendedor", "cep",
        ],
        renames={"cod_vendedor": "o_custkey"},
        constants={"qtd_volumes": "0", "arquivo_origem": "arquivo_backup_banco"},
    )


# ---------------------------------------------------------------------------
# J3/S10 — processed-file ledger anti-join (new-file listing)
# ---------------------------------------------------------------------------


@query(
    "j3_ledger_anti_join",
    oracle="""
SELECT DISTINCT source AS filename FROM documents
WHERE source NOT IN (
  SELECT DISTINCT source FROM documents
  WHERE CAST(substr(source, 4) AS INTEGER) % 3 = 0
)
""",
)
def j3_ledger_anti_join(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    listing = d.select(F.col("source").alias("filename")).distinct()
    ledger = (
        d.where(F.substring("source", 4, 10).cast("int") % 3 == 0)
        .select(F.col("source").alias("filename"))
        .distinct()
    )
    return listing.join(ledger, "filename", "left_anti")


# ---------------------------------------------------------------------------
# Flagship — stage-3 slice end-to-end: derived dirty staging ->
# clean (41 exprs) -> window dedup -> NULL-key filter
# ---------------------------------------------------------------------------

_STG_V1 = """
SELECT
  CAST(o_orderkey AS VARCHAR) AS id,
  '2024-01-05T08:30:00' AS data_insercao,
  'normal' AS tipo_entrega,
  'P-' || CAST(o_orderkey AS VARCHAR) AS pedido,
  strftime(o_orderdate, '%d/%m/%Y') AS data_nfe,
  '1' AS serie_nfe,
  CAST(o_orderkey AS VARCHAR) AS numero_nfe,
  replace(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR), '.', ',') AS valor_nfe,
  CAST(o_orderkey % 10 AS VARCHAR) || ' vol' AS qtd_volumes,
  CAST(CAST(o_totalprice AS DECIMAL(12,3)) AS VARCHAR) AS peso,
  '' AS remessa, '  Dest ' || CAST(o_custkey AS VARCHAR) || '  ' AS nome_destinatario,
  '' AS endereco_completo, '01310-100' AS cep,
  CAST(o_custkey % 50 AS VARCHAR) AS cod_cd, '' AS cd,
  '12.345.678/0001-' || lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') AS cnpj_cpf_transportadora,
  '' AS transportador, '' AS lead_time,
  strftime(o_orderdate, '%Y-%m-%d') AS data_prev_entrega,
  o_orderpriority AS status_prazo, '' AS id_ult_ocr, '' AS ultima_ocorrencia,
  '' AS chave_ult_ocr,
  strftime(o_orderdate, '%d/%m/%Y %H:%M:%S') AS data_ultima_ocr,
  '' AS agrupador, '' AS endereco, '' AS numero, '' AS bairro, '' AS cidades,
  CASE o_custkey % 4 WHEN 0 THEN 'SP' WHEN 1 THEN ' rj '
       WHEN 2 THEN 'M1G' ELSE 'XYZW' END AS uf,
  '' AS etiquetas, '' AS chegada_transportadora, '' AS cod_vendedor,
  CASE WHEN o_orderkey % 10 = 0 THEN 'BAD-KEY'
       ELSE lpad(CAST(o_orderkey AS VARCHAR), 44, '0') END AS chave_nfe,
  '' AS qtd_itens, strftime(o_orderdate, '%d-%m-%Y') AS data_prev_entrega_original,
  '' AS cpf_destinatario, '' AS grau_risco, 'venda' AS tipo_operacao,
  'arquivo_' || CAST(o_orderkey % 7 AS VARCHAR) || '.csv' AS arquivo_origem
FROM orders
"""

# second occurrence of every key: one day newer, different status
_STG_V2 = _STG_V1.replace(
    "strftime(o_orderdate, '%d/%m/%Y %H:%M:%S') AS data_ultima_ocr",
    "strftime(o_orderdate + INTERVAL 1 DAY, '%d/%m/%Y %H:%M:%S') AS data_ultima_ocr",
).replace(
    "o_orderpriority AS status_prazo",
    "'v2-' || o_orderpriority AS status_prazo",
)

_FLAGSHIP_DEFAULT = "TIMESTAMP '2020-01-01 00:00:00'"


def _flagship_oracle() -> str:
    typed = clean_staging_sql("stg", default_insercao_sql=_FLAGSHIP_DEFAULT)
    return f"""
WITH stg AS ({_STG_V1} UNION ALL {_STG_V2}),
typed AS ({typed}),
ranked AS (
  SELECT t.*, row_number() OVER (
           PARTITION BY chave_nfe
           ORDER BY data_ultima_ocr DESC NULLS LAST,
                    data_insercao DESC NULLS LAST
         ) AS rn
  FROM typed t
)
SELECT * EXCLUDE (rn)
       REPLACE (CAST(valor_nfe AS DOUBLE) AS valor_nfe,
                CAST(peso AS DOUBLE) AS peso)
FROM ranked
WHERE rn = 1 AND chave_nfe IS NOT NULL
"""


def _flagship_staging(spark, sf_dir):
    """Spark twin of the _STG_V1/_STG_V2 derivation (spark.sql over the
    registered orders view would also work; DataFrame API keeps it
    typed and lets Catalyst fold the literals).

    The two staging variants differ in exactly two columns
    (data_ultima_ocr shifted a day, status_prazo prefixed), so instead
    of two full scan+derive branches union'd (2x scan, 2x the
    41-expression derivation), the common columns are derived ONCE and
    a 2-element variant array is exploded; only the two variant
    columns are computed per exploded row. The Generate node keeps the
    pre-explode projection from collapsing into the post-explode one,
    so the common derivation genuinely runs once per input row."""
    o = table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    price2 = F.col("o_totalprice").cast("decimal(15,2)").cast("string")

    def common_cols():
        cols = {
            "id": key.cast("string"),
            "data_insercao": F.lit("2024-01-05T08:30:00"),
            "tipo_entrega": F.lit("normal"),
            "pedido": F.concat(F.lit("P-"), key.cast("string")),
            "data_nfe": F.date_format("o_orderdate", "dd/MM/yyyy"),
            "serie_nfe": F.lit("1"),
            "numero_nfe": key.cast("string"),
            "valor_nfe": F.replace(price2, F.lit("."), F.lit(",")),
            "qtd_volumes": F.concat((key % 10).cast("string"), F.lit(" vol")),
            "peso": F.col("o_totalprice").cast("decimal(12,3)").cast("string"),
            "remessa": F.lit(""),
            "nome_destinatario": F.concat(
                F.lit("  Dest "), F.col("o_custkey").cast("string"), F.lit("  ")
            ),
            "endereco_completo": F.lit(""),
            "cep": F.lit("01310-100"),
            "cod_cd": (F.col("o_custkey") % 50).cast("string"),
            "cd": F.lit(""),
            "cnpj_cpf_transportadora": F.concat(
                F.lit("12.345.678/0001-"),
                F.lpad((key % 100).cast("string"), 2, "0"),
            ),
            "transportador": F.lit(""),
            "lead_time": F.lit(""),
            "data_prev_entrega": F.date_format("o_orderdate", "yyyy-MM-dd"),
            "status_prazo": None,  # variant-dependent, added post-explode
            "id_ult_ocr": F.lit(""),
            "ultima_ocorrencia": F.lit(""),
            "chave_ult_ocr": F.lit(""),
            "data_ultima_ocr": None,  # variant-dependent, added post-explode
            "agrupador": F.lit(""),
            "endereco": F.lit(""),
            "numero": F.lit(""),
            "bairro": F.lit(""),
            "cidades": F.lit(""),
            "uf": F.when(F.col("o_custkey") % 4 == 0, F.lit("SP"))
            .when(F.col("o_custkey") % 4 == 1, F.lit(" rj "))
            .when(F.col("o_custkey") % 4 == 2, F.lit("M1G"))
            .otherwise(F.lit("XYZW")),
            "etiquetas": F.lit(""),
            "chegada_transportadora": F.lit(""),
            "cod_vendedor": F.lit(""),
            "chave_nfe": F.when(key % 10 == 0, F.lit("BAD-KEY")).otherwise(
                F.lpad(key.cast("string"), 44, "0")
            ),
            "qtd_itens": F.lit(""),
            "data_prev_entrega_original": F.date_format("o_orderdate", "dd-MM-yyyy"),
            "cpf_destinatario": F.lit(""),
            "grau_risco": F.lit(""),
            "tipo_operacao": F.lit("venda"),
            "arquivo_origem": F.concat(
                F.lit("arquivo_"), (key % 7).cast("string"), F.lit(".csv")
            ),
        }
        return cols

    from sftp_data_ingestion_spark.rebalance import fan_out

    # fan_out on the RAW scan, below the derivation: the 41-expression
    # derive + variant explode + downstream cleaning cascade are pure
    # CPU, and a few-split orders scan would run them on 1-2 cores
    # (no-op at scale, where splits >= cores). Rebalancing before the
    # derive also makes the exchange carry the narrow raw orders
    # columns instead of 41 derived strings.
    cols = common_cols()
    base = fan_out(o).select(
        [cols[c].alias(c) for c in STG_COLUMNS if cols[c] is not None]
        + [
            F.col("o_orderdate").alias("_od"),
            F.col("o_orderpriority").alias("_pri"),
        ]
    )
    exploded = base.select(
        "*", F.explode(F.array(F.lit(0), F.lit(1))).alias("_v")
    )
    variant = {
        "status_prazo": F.concat(
            F.when(F.col("_v") == 1, F.lit("v2-")).otherwise(F.lit("")),
            F.col("_pri"),
        ),
        "data_ultima_ocr": F.date_format(
            F.date_add(F.col("_od"), F.col("_v")), "dd/MM/yyyy HH:mm:ss"
        ),
    }
    return exploded.select(
        [
            (variant[c] if c in variant else F.col(c)).alias(c)
            for c in STG_COLUMNS
        ]
    )


@query("pedidos_pipeline_flagship", oracle=_flagship_oracle())
def pedidos_pipeline_flagship(spark, sf_dir):
    staging = _flagship_staging(spark, sf_dir)
    out = staging_to_delta(
        staging,
        default_insercao=F.lit("2020-01-01 00:00:00").cast("timestamp"),
    )
    # Boundary cast only: the pipeline keeps DECIMAL(15,2)/(12,3)
    # internally (exact merge/ranking semantics); DOUBLE at the output
    # because DECIMAL columns hash differently across the driver's two
    # fetch paths even when values match exactly.
    return out.withColumns(
        {
            "valor_nfe": F.col("valor_nfe").cast("double"),
            "peso": F.col("peso").cast("double"),
        }
    )


# ---------------------------------------------------------------------------
# S6a-d — robust CSV round-trip under the oracle
# ---------------------------------------------------------------------------

_S6_HDR = ("ID;Data Inserção;Pedido;Data Nfe;Valor Nfe;Peso;Qtd. Volumes;"
           "UF;Chave NFe;Data Última Ocr.;Status Prazo")


@query(
    "s6_robust_csv_roundtrip",
    oracle="""
SELECT CAST(o_orderkey AS VARCHAR) AS id,
       '02/01/2024 10:00:00' AS data_insercao,
       CASE WHEN o_orderkey % 13 = 0 THEN 'P;' || CAST(o_orderkey AS VARCHAR)
            ELSE 'P-' || CAST(o_orderkey AS VARCHAR) END AS pedido,
       strftime(o_orderdate, '%d/%m/%Y') AS data_nfe,
       replace(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR),
               '.', ',') AS valor_nfe,
       '1,5' AS peso,
       CAST(o_orderkey % 10 AS VARCHAR) || ' vol' AS qtd_volumes,
       'SP' AS uf,
       lpad(CAST(o_orderkey AS VARCHAR), 44, '0') AS chave_nfe,
       strftime(o_orderdate, '%d/%m/%Y %H:%M:%S') AS data_ultima_ocr,
       CASE WHEN o_orderkey % 7 = 0 THEN o_orderpriority || ';EXTRA'
            ELSE o_orderpriority END AS status_prazo
FROM orders
""",
)
def s6_robust_csv_roundtrip(spark, sf_dir):
    """S6a-d + S7 + P1/P2 under the hash oracle: derive a dirty CSV
    from ``orders`` — quoted fields containing the separator
    (key%13), ragged rows with an unquoted separator in the last field
    (key%7 -> repair folds the overflow back, reference 02:150-156),
    empty lines and all-blank ``;;;`` rows — write it, then round-trip
    through the real plan_file -> read_csv_robust path (driver-side
    sniff + distributed parse). The oracle states what the repaired,
    conformed frame must contain; every quirk the reader handles is a
    hash mismatch if mishandled."""
    from sftp_data_ingestion_spark.io.csv_robust import (
        plan_file,
        read_csv_robust,
    )

    path = write_s6_fixture(spark, sf_dir)
    conformed = read_csv_robust(spark, plan_file(path))
    return conformed.select(
        "id", "data_insercao", "pedido", "data_nfe", "valor_nfe", "peso",
        "qtd_volumes", "uf", "chave_nfe", "data_ultima_ocr", "status_prazo",
    )


def write_s6_fixture(spark, sf_dir) -> str:
    """Write the S6 dirty-CSV fixture (quoted separators, ragged rows,
    blank/;;; noise, BOM header) and return the file path. Shared by
    the batch-reader round-trip above and the landing_text DataSource
    round-trip (queries/q_signals.py) so both grade the IDENTICAL
    file against the IDENTICAL oracle."""
    import os
    import tempfile

    o = table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    ks = key.cast("string")
    price = F.replace(
        F.col("o_totalprice").cast("decimal(15,2)").cast("string"),
        F.lit("."), F.lit(","),
    )
    pedido = F.when(
        key % 13 == 0, F.concat(F.lit('"P;'), ks, F.lit('"'))
    ).otherwise(F.concat(F.lit("P-"), ks))
    status = F.when(
        key % 7 == 0, F.concat(F.col("o_orderpriority"), F.lit(";EXTRA"))
    ).otherwise(F.col("o_orderpriority"))
    data = o.select(
        key.alias("ord"),
        F.concat_ws(
            ";",
            ks, F.lit("02/01/2024 10:00:00"), pedido,
            F.date_format("o_orderdate", "dd/MM/yyyy"), price, F.lit("1,5"),
            F.concat((key % 10).cast("string"), F.lit(" vol")), F.lit("SP"),
            F.lpad(ks, 44, "0"),
            F.date_format("o_orderdate", "dd/MM/yyyy HH:mm:ss"),
            status,
        ).alias("line"),
    )
    hdr = spark.range(1).select(
        F.lit(-1).cast("long").alias("ord"),
        # U+FEFF prefix: the file round-trips as utf-8-sig (S6d strip)
        F.lit("﻿" + _S6_HDR).alias("line"),
    )
    noise = spark.range(4).select(
        (F.lit(2**62) + F.col("id")).alias("ord"),
        F.when(F.col("id") % 2 == 0, F.lit(""))
        .otherwise(F.lit(";;;;;;;;;;")).alias("line"),
    )
    out_dir = tempfile.mkdtemp(prefix="s6_csv_") + "/data"
    (
        hdr.unionAll(data).unionAll(noise)
        .repartition(1)
        .sortWithinPartitions("ord")
        .select("line")
        .write.mode("overwrite").text(out_dir)
    )
    part = next(
        f for f in sorted(os.listdir(out_dir)) if f.startswith("part-")
    )
    return os.path.join(out_dir, part)
