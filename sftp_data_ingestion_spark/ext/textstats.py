r"""Text analysis over document tables: token stats, quality scoring,
language ID, fingerprinting.

All pure Column expressions (``split`` / ``regexp_count`` / array
functions) — scan-local, zero shuffle, whole-stage codegen; at 100 TB
these run at parquet-scan speed. No reference equivalent (the
reference is CSV/order ETL, SURVEY.md §2.11); the operator set follows
standard LLM-corpus curation practice (C4/Gopher-style heuristics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deliberately tiny + deterministic: the point is the Spark
# plumbing (argmax over per-language scores), not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "pt": ("o", "a", "de", "e", "que"),
}

_WORD_RE = r"[A-Za-z0-9]+"
_PUNCT_RE = r"[^\w\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (documents.text is space-separated)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish count: alnum runs + punctuation marks each count 1
    (a cheap, deterministic BPE proxy for budget estimation)."""
    return F.regexp_count(text, F.lit(_WORD_RE)) + F.regexp_count(
        text, F.lit(_PUNCT_RE)
    )


def stopword_count(text: Column, lang: str) -> Column:
    toks = tokens(F.lower(text))
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def language_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (the lang-ID signal)."""
    return {lang: stopword_count(text, lang) for lang in LANG_MARKERS}


def language_id(text: Column) -> Column:
    """argmax language by stopword hits; deterministic tiebreak by
    language code order; 'und' when no marker hits at all."""
    scores = language_scores(text)
    pairs = sorted(scores.items())  # deterministic tiebreak
    best_lang, best_score = F.lit("und"), F.lit(0)
    for lang, score in pairs:
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def quality_score(text: Column) -> Column:
    """Gopher-style [0,1] quality heuristic: penalize too-short docs,
    high punctuation density, and low stopword ratio. Deterministic
    arithmetic only (no floats beyond fixed literals)."""
    n_tok = token_count(text).cast("double")
    punct_ratio = F.regexp_count(text, F.lit(_PUNCT_RE)).cast("double") / F.greatest(
        F.length(text).cast("double"), F.lit(1.0)
    )
    stop_ratio = stopword_count(text, "en").cast("double") / F.greatest(
        n_tok, F.lit(1.0)
    )
    length_term = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    return F.round(
        F.lit(0.5) * length_term
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
        + F.lit(0.2) * (1 - F.least(punct_ratio * 10, F.lit(1.0))),
        6,
    )


def fingerprint(text: Column, normalize: bool = True) -> Column:
    """Fast 64-bit document fingerprint: xxhash64 over the normalized
    text (the scale path — one JVM hash per row). Engine-specific; for
    the cross-engine-gradeable variant see :func:`rolling_fingerprint`."""
    t = F.lower(F.trim(text)) if normalize else text
    return F.xxhash64(t)


_FP_P = 2147483647  # 2^31 - 1 (Mersenne prime modulus)
_FP_B = 131  # polynomial base


def rolling_fingerprint(text: Column) -> Column:
    """Engine-portable polynomial rolling hash over the characters of
    the normalized text: ``h = (h*131 + codepoint) mod (2^31-1)`` —
    the classic Rabin-Karp fold, expressible identically in any SQL
    dialect (see :func:`rolling_fingerprint_sql`), unlike xxhash64.
    Intermediates stay < 2^39, so the fold is ANSI-overflow-safe."""
    t = F.lower(F.trim(text))
    return F.aggregate(
        F.split(t, ""),
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(
            acc * _FP_B + F.coalesce(F.ascii(c), F.lit(0)), F.lit(_FP_P)
        ),
    )


def rolling_fingerprint_sql(e: str) -> str:
    """DuckDB twin of :func:`rolling_fingerprint` (same fold, same
    constants; ``list_prepend(0, ...)`` seeds the reduce)."""
    t = f"lower(trim({e}))"
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(length({t})), i -> "
        f"CAST(unicode({t}[i+1]) AS BIGINT))), "
        f"(a, b) -> (a * {_FP_B} + b) % {_FP_P})"
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF — the corpus-level term
    salience operator (keyword extraction / topic hinting in curation
    pipelines).

    IDF is the RATIONAL BM25 form ``(N - df + 0.5) / (df + 0.5)``, not
    a logarithm: pure rational arithmetic is bit-identical between
    Spark and any SQL oracle engine, while libm ``ln`` differs in the
    last ulp across runtimes (monotone in df either way, so rankings
    are the standard ones).

    Scale shape: token explode -> one (doc, term) shuffle for TF ->
    one uniform term-key shuffle for DF -> join back (hot terms join
    to ONE df row each; AQE skew-split covers imbalance) -> per-doc
    top-k window (WindowGroupLimit pre-trims partitions). Corpus size
    N arrives via a broadcast scalar, not a driver constant, so the
    whole plan stays one lazy composition."""
    from pyspark.sql import Window

    from sftp_data_ingestion_spark.ext.dedup import normalized

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.col("n_docs") - F.col("df") + 0.5)
            / (F.col("df") + 0.5),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            id_col,
            "term",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rn").cast("int").alias("rank"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    by: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pretraining sequence packing: documents are concatenated in a
    deterministic order within each ``by`` shard and chunked at
    ``budget`` tokens — each doc's pack is the chunk its first token
    lands in (the standard concat-then-chunk semantics; docs may
    straddle chunk boundaries exactly as the tokenized stream does).

    Output: one row per doc with ``(by, order_col, n_tokens,
    start_offset, pack_id)``.

    Scale shape: ONE window per shard (cumulative token sum ordered by
    ``order_col``) — shards are independent, so parallelism is the
    shard count and no global sort exists anywhere; this mirrors how
    production packing runs per input shard. The assignment is a pure
    function of (shard, order, token counts): reproducible on any
    cluster size, resilient to task retries."""
    from pyspark.sql import Window

    tok = token_count(F.col(text_col))
    w = (
        Window.partitionBy(by)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            F.col(by),
            F.col(order_col),
            tok.alias("n_tokens"),
        )
        .withColumn(
            "start_offset",
            (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long"),
        )
        .withColumn(
            "pack_id", F.floor(F.col("start_offset") / budget).cast("long")
        )
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition quality signals (the Gopher-rule
    family): per doc, the total and top-frequency bigram counts, the
    fraction of bigram mass owned by the single most repeated bigram,
    and the duplicate-token fraction. High values flag boilerplate or
    degenerate generations before training.

    Shape: bigrams explode once, then ONE exchange on the doc id
    feeds both aggregations — ``hashpartitioning(id)`` satisfies the
    (id, gram) grouping's clustered-distribution requirement (a
    partitioning on a subset of the grouping keys co-locates every
    group), so Catalyst plans HashAgg(id, gram) -> HashAgg(id) with
    no second shuffle (without the explicit repartition it exchanges
    twice: once on (id, gram), again on id). Per-doc gram counts are
    bounded by doc length, so the id-keyed exchange cannot skew
    beyond the longest document. Docs with fewer than two tokens have
    no bigram and drop out (nothing to measure)."""
    toks = F.col("__toks")
    grams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda g: g.isNotNull(),
    )
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).select(
        # tokenize ONCE per row: the regex split is the per-row cost,
        # and referencing it via a materialized projection keeps it
        # from being re-evaluated for each derived expression
        F.col(id_col),
        F.size(toks).alias("__nt"),
        F.size(F.array_distinct(toks)).alias("__nd"),
        F.explode(grams).alias("__gram"),
    )
    return (
        base.repartition(F.col(id_col))
        .groupBy(id_col, "__gram")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.first("__nt").alias("__nt"),
            F.first("__nd").alias("__nd"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_bigrams"),
            F.max("__c").cast("long").alias("top_bigram_n"),
            F.round(F.max("__c") / F.sum("__c"), 6).alias("top_bigram_frac"),
            F.round(
                1 - F.first("__nd") / F.first("__nt"), 6
            ).alias("dup_token_frac"),
        )
    )


def bm25_scored(
    d,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
):
    """Per-document BM25 score for a bag-of-terms query, with the
    RATIONAL idf (N - df + 0.5)/(df + 0.5) — no logarithm, so the
    per-term score is the identical arithmetic expression in any
    engine. Scale shape: tf/df/dl are uniform-key aggregates, the
    query-term filter prunes tf to |Q| terms before any join, df and
    corpus stats broadcast. Returns (doc_id, score) with score
    rounded to 6 dp (summation order can't flip ties downstream).

    Shared by z_bm25_search (lexical top-k) and z3_hybrid_rrf_fusion
    (lexical arm of the fused ranking)."""
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = d.select("doc_id", F.explode(F.split(norm, " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl")
    )
    dfreq = (
        tf.where(F.col("term").isin(list(query_terms)))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    ).crossJoin(dl.agg(F.avg("dl").alias("avgdl")))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    (
                        (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                    )
                    * (F.col("tf") * (k1 + 1.0))
                    / (
                        F.col("tf")
                        + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("score")
        )
    )


def canonicalize_url(u: Column) -> Column:
    """Crawl-pipeline URL canonicalization, all built-in expressions
    (scan-local, zero shuffle): lowercase scheme and host, strip a
    leading ``www.``, drop default ports (:80 http / :443 https),
    drop the fragment, remove tracking query params (``utm_*``,
    ``gclid``, ``fbclid``, ``ref``), SORT the surviving params
    (param order is presentation, not identity), collapse an empty
    path to ``/`` and strip a trailing slash elsewhere. The standard
    equivalence-class mapping URL dedup keys on — two crawl records
    of the same page with different tracking decorations canonicalize
    identically.

    Aggressive choices (www-strip, param sort) are deliberate and
    documented: crawl dedup wants recall on same-page variants;
    pipelines needing byte-faithful URLs keep the original column
    alongside."""
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[^:]+://([^/?#]+)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.substring(host, 1, F.length(host) - 3),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.substring(host, 1, F.length(host) - 4),
    ).otherwise(host)
    path = F.regexp_extract(u, r"^[^:]+://[^/?#]+([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)
    rawq = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(rawq, "&"),
            lambda p: (p != "")
            & ~p.rlike(r"^(utm_[^=]*|gclid|fbclid|ref)(=|$)"),
        )
    )
    q = F.array_join(kept, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )


# HTML -> text extraction: ordered (pattern, replacement) regex chain.
# Every pattern is BOTH Java-regex and RE2 safe (no backreferences, no
# lookaround) so DuckDB's regexp_replace(..., 'gs') replays the chain
# byte-for-byte; order matters (script/style bodies must go before the
# generic tag strip, entities after tags so literal '&lt;' never
# becomes a strippable '<').
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    (r"<script[^>]*>.*?</script>", " "),
    (r"<style[^>]*>.*?</style>", " "),
    (r"<!--.*?-->", " "),
    (r"<[^>]+>", " "),
]

HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
]


def html_to_text(text: Column) -> Column:
    """Markup-stripping text extraction (the trafilatura/jusText stage
    of a web-corpus pipeline, reduced to its deterministic regex
    core): drop script/style bodies and comments, strip tags, decode
    the six ubiquitous entities, collapse whitespace. Pure Column
    expressions — one codegen'd projection, no UDF; at 100 TB this is
    a map-only pass fused into the scan."""
    out = text
    for pat, rep in HTML_STRIP_STEPS:
        # (?s): '.' spans newlines inside script/style/comment bodies
        out = F.regexp_replace(out, "(?s)" + pat, rep)
    for ent, rep in HTML_ENTITIES:
        # literal replace, not regex
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_to_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`html_to_text` over SQL expression
    ``expr`` — identical pattern chain, 's' flag for dot-all."""
    out = expr
    for pat, rep in HTML_STRIP_STEPS:
        # inline (?s) like the Spark side — RE2 supports it, and it
        # keeps the two engines' flag semantics trivially identical
        out = f"regexp_replace({out}, '(?s){pat}', '{rep}', 'g')"
    for ent, rep in HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        ent_sql = ent.replace("'", "''")
        out = f"replace({out}, '{ent_sql}', '{rep_sql}')"
    return rf"trim(regexp_replace({out}, '\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
# SIGMOD 2003 — the MOSS local fingerprinting algorithm)
# ---------------------------------------------------------------------------

WINNOW_K = 5  # k-gram length (guarantee floor: no match shorter than k)
WINNOW_W = 4  # window size (guarantee ceiling: every match >= k+w-1 shared)


def winnow_codepoints(text: Column) -> Column:
    """Codepoint array of ``lower(trim(text))`` — the ONE-pass
    normalization + char explode that everything downstream indexes
    into with O(1) ``element_at``.

    MATERIALIZE this in its own projection. Two costs hide in the
    naive alternative of calling ``substring(lower(trim(text)), i, 1)``
    per position inside a higher-order-function lambda: (1) captured
    sub-expressions inside an HOF lambda are re-evaluated PER ELEMENT
    (Catalyst does not hoist them), so the lower+trim string copy runs
    n times per row; (2) ``UTF8String.substring(i)`` itself walks the
    byte buffer to find the char offset, O(i). Together that is O(n²)
    per document with large constants — measured 5.2 ms/doc at
    ~300 chars and 77 ms/doc at ~600 chars (super-linear) before this
    split; the array form is one split + one transform per row."""
    t = F.lower(F.trim(text))
    return F.transform(
        F.split(t, ""), lambda c: F.coalesce(F.ascii(c), F.lit(0)).cast("long")
    )


def winnow_gram_hashes(cps: Column) -> Column:
    """Array of polynomial k-gram hashes over a MATERIALIZED codepoint
    array from :func:`winnow_codepoints` (`rolling_fingerprint`'s
    engine-portable constants folded over exactly ``WINNOW_K``
    codepoints per position; intermediates < 2^39). Empty array for
    docs shorter than k.

    Keep this in its own projection too: the selection step references
    the gram array many times, and Catalyst's CollapseProject
    deliberately leaves a multiply-referenced non-cheap projection
    uncollapsed, so each array is computed once per row."""

    def gram(i: Column) -> Column:
        h = F.element_at(cps, (i + 1).cast("int"))
        for j in range(1, WINNOW_K):
            h = F.pmod(
                h * _FP_B + F.element_at(cps, (i + 1 + j).cast("int")),
                F.lit(_FP_P),
            )
        return h

    return F.when(
        F.size(cps) >= WINNOW_K,
        F.transform(
            F.sequence(F.lit(0), F.size(cps) - WINNOW_K), gram
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_select(grams: Column) -> Column:
    """Winnowing selection over a gram-hash array: every w-window of
    consecutive gram hashes selects its minimum — rightmost
    occurrence on ties (the paper's tie rule; it maximizes adjacent
    windows re-selecting the same gram, which is what bounds the
    fingerprint density to 2/(w+1)) — and the distinct selected
    positions form the fingerprint set.

    Returns ``array<struct<pos:long, fp:long>>``. Docs with fewer
    than w grams winnow a single window over all of them, so every
    doc with >= 1 gram keeps >= 1 fingerprint. Pass the MATERIALIZED
    gram column from :func:`winnow_gram_hashes`, never the raw
    expression (see its docstring). Per-window minima are computed
    ONCE in a zip_with input array (HOF inputs evaluate once per
    row; only lambda bodies re-evaluate per element), so the
    rightmost-argmin scan does w work per window, not w²."""
    w_eff = F.least(F.lit(WINNOW_W), F.size(grams))
    starts = F.sequence(F.lit(0), F.size(grams) - w_eff)
    mins = F.transform(
        starts, lambda s: F.array_min(F.slice(grams, s + 1, w_eff))
    )
    sel = F.array_distinct(
        F.zip_with(
            starts,
            mins,
            lambda s, m: F.aggregate(
                F.sequence(F.lit(0), w_eff - 1),
                F.lit(-1).cast("long"),
                lambda acc, j: F.when(
                    F.element_at(grams, (s + j + 1).cast("int")) == m,
                    (s + j).cast("long"),
                ).otherwise(acc),
            ),
        )
    )
    pairs = F.transform(
        sel,
        lambda p: F.struct(
            p.alias("pos"),
            F.element_at(grams, (p + 1).cast("int")).alias("fp"),
        ),
    )
    return F.when(F.size(grams) > 0, pairs).otherwise(
        F.array().cast("array<struct<pos:bigint,fp:bigint>>")
    )


def winnow_oracle_cte(source_sql: str, id_col: str, text_col: str) -> str:
    """DuckDB twin: CTEs materialize the gram array once per row
    (mirroring the Spark two-projection shape), then unnest the
    selected (pos, fp) pairs. Same constants, same tie rule."""
    t = f"lower(trim({text_col}))"
    h = f"CAST(unicode(t[i+1]) AS BIGINT)"
    for j in range(1, WINNOW_K):
        h = f"(({h}) * {_FP_B} + unicode(t[i+1+{j}])) % {_FP_P}"
    return f"""
WITH wn_base AS (
  SELECT {id_col} AS wn_id, {t} AS t FROM ({source_sql})
), wn_grams AS (
  SELECT wn_id,
         list_transform(range(0, length(t) - {WINNOW_K} + 1),
                        i -> {h}) AS grams
  FROM wn_base WHERE length(t) >= {WINNOW_K}
), wn_sel AS (
  SELECT wn_id, grams,
         list_distinct(list_transform(
           range(0, len(grams) - least({WINNOW_W}, len(grams)) + 1),
           s -> list_reduce(
             list_prepend(CAST(-1 AS BIGINT),
                          range(0, least({WINNOW_W}, len(grams)))),
             (acc, j) -> CASE
               WHEN grams[s+j+1] = list_min(
                 list_slice(grams, s+1, s+least({WINNOW_W}, len(grams))))
               THEN s+j ELSE acc END))) AS sel_pos
  FROM wn_grams WHERE len(grams) > 0
)
SELECT wn_id, CAST(u.p AS BIGINT) AS pos, grams[u.p+1] AS fp
FROM wn_sel, unnest(sel_pos) AS u(p)
"""
