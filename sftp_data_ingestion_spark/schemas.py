"""Schemas and column maps for the pedidos pipeline + fixture tables.

Reference parity:

* ``STG_COLUMNS`` / ``STG_PEDIDOS`` — the 41-column all-string staging
  zone (``/root/reference/sql/ddl_stg_pedidos:1-43``; column order from
  ``COLUNAS_DESTINO`` ``/root/reference/python/02_load_stage_pedidos.py:39-47``).
  Empty string — not NULL — is the staging missing value.
* ``FAT_PEDIDOS`` — the typed warehouse fact table
  (``/root/reference/sql/ddl_fat_pedidos:1-43``): 3 DATE, 3 TIMESTAMP,
  2 DECIMAL, 2 INT, rest strings; unique on ``chave_nfe``.
* ``DE_PARA`` — raw Portuguese CSV header -> snake_case rename map
  (``/root/reference/python/02_load_stage_pedidos.py:49-92``), including
  the three spelling variants of "Data Prev. Entrega Original".
"""

from __future__ import annotations

from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# staging zone: 41 string columns, fixed order
# ---------------------------------------------------------------------------

STG_COLUMNS: list[str] = [
    "id", "data_insercao", "tipo_entrega", "pedido", "data_nfe", "serie_nfe",
    "numero_nfe", "valor_nfe", "qtd_volumes", "peso", "remessa",
    "nome_destinatario", "endereco_completo", "cep", "cod_cd", "cd",
    "cnpj_cpf_transportadora", "transportador", "lead_time",
    "data_prev_entrega", "status_prazo", "id_ult_ocr", "ultima_ocorrencia",
    "chave_ult_ocr", "data_ultima_ocr", "agrupador", "endereco", "numero",
    "bairro", "cidades", "uf", "etiquetas", "chegada_transportadora",
    "cod_vendedor", "chave_nfe", "qtd_itens", "data_prev_entrega_original",
    "cpf_destinatario", "grau_risco", "tipo_operacao", "arquivo_origem",
]

STG_PEDIDOS = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in STG_COLUMNS]
)

# ---------------------------------------------------------------------------
# warehouse fact table: typed columns (ddl_fat_pedidos)
# ---------------------------------------------------------------------------

_DATE_COLS = {"data_nfe", "data_prev_entrega", "data_prev_entrega_original"}
_TS_COLS = {"data_insercao", "data_ultima_ocr", "chegada_transportadora"}
_DEC_COLS = {"valor_nfe": (15, 2), "peso": (12, 3)}
_INT_COLS = {"qtd_volumes", "cod_cd"}


def _fat_type(col: str) -> T.DataType:
    if col in _DATE_COLS:
        return T.DateType()
    if col in _TS_COLS:
        return T.TimestampType()  # session tz pinned UTC -> naive semantics
    if col in _DEC_COLS:
        p, s = _DEC_COLS[col]
        return T.DecimalType(p, s)
    if col in _INT_COLS:
        return T.IntegerType()
    return T.StringType()


FAT_PEDIDOS = T.StructType(
    [T.StructField(c, _fat_type(c), True) for c in STG_COLUMNS]
)

# Columns whose update policy is "replace only when the incoming
# occurrence is newer" (python/03_upsert_dw_pedidos.py:204-214).
NEWER_WINS_COLS: list[str] = [
    "data_ultima_ocr", "data_prev_entrega", "status_prazo", "id_ult_ocr",
    "ultima_ocorrencia", "chave_ult_ocr", "chegada_transportadora",
    "arquivo_origem",
]

# Columns the reference's ON CONFLICT SET clause deliberately OMITS
# (python/03_upsert_dw_pedidos.py:202-246 updates every other column):
# once a DW row exists they are never touched again — the NFe issue
# date and the ORIGINAL delivery forecast are set-once snapshots, and
# an omitted column keeps the DW value even when the incoming row has
# a non-NULL one (stronger than COALESCE, which would overwrite).
SET_ONCE_COLS: list[str] = ["data_nfe", "data_prev_entrega_original"]

# ---------------------------------------------------------------------------
# raw CSV header -> staging column rename map (DE_PARA)
# ---------------------------------------------------------------------------

DE_PARA: dict[str, str] = {
    "ID": "id",
    "Data Inserção": "data_insercao",
    "Tipo Entrega": "tipo_entrega",
    "Pedido": "pedido",
    "Data Nfe": "data_nfe",
    "Serie Nfe": "serie_nfe",
    "Número Nfe": "numero_nfe",
    "Valor Nfe": "valor_nfe",
    "Qtd. Volumes": "qtd_volumes",
    "Peso": "peso",
    "Remessa": "remessa",
    "Nome Destinatário": "nome_destinatario",
    "Endereço Completo": "endereco_completo",
    "CEP": "cep",
    "Cód. CD": "cod_cd",
    "CD": "cd",
    "CNPJ/CPF Transportadora": "cnpj_cpf_transportadora",
    "Transportador": "transportador",
    "Lead Time": "lead_time",
    "Data Prev. Entrega": "data_prev_entrega",
    "Status Prazo": "status_prazo",
    "ID Últ. Ocr.": "id_ult_ocr",
    "Última Ocorrência": "ultima_ocorrencia",
    "Chave Últ. Ocr.": "chave_ult_ocr",
    "Data Última Ocr.": "data_ultima_ocr",
    "Agrupador": "agrupador",
    "Endereço": "endereco",
    "Numero": "numero",
    "Bairro": "bairro",
    "Cidades": "cidades",
    "UF": "uf",
    "Etiquetas": "etiquetas",
    "Chegada na Transportadora": "chegada_transportadora",
    "Cod. Vendedor": "cod_vendedor",
    "Chave NFe": "chave_nfe",
    "Qtd. Itens": "qtd_itens",
    # three observed spelling variants all conform to one column
    "Data Prev. Entrega Original)": "data_prev_entrega_original",
    "Data Prev. Entrega (Original)": "data_prev_entrega_original",
    "Data Prev. Entrega Original": "data_prev_entrega_original",
    "CPF Destinatário": "cpf_destinatario",
    "Grau de Risco": "grau_risco",
    "Tipo de Operação": "tipo_operacao",
}

# Minimum number of recognized raw headers for a file to be accepted
# (python/02_load_stage_pedidos.py:167).
HEADER_VALID_MIN = 10

# ---------------------------------------------------------------------------
# driver fixture tables
# ---------------------------------------------------------------------------

FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
