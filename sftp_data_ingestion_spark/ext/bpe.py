r"""Distributed BPE tokenizer training (byte-pair encoding) — learn
the top-K merges of the classic algorithm (Sennrich et al., the
public subword-nmt procedure) over a corpus, Spark-first.

The 100 TB insight the implementation is built around: BPE trains on
the WORD HISTOGRAM, not the raw corpus — one uniform-key groupBy
collapses terabytes of text into a vocabulary table (|V| rows, each a
word + frequency), and every subsequent merge step is arithmetic over
that small table. The corpus is scanned exactly once.

Each merge step is fully relational (no driver-side loop over words):

1. pair counts — symbol sequences split per word, adjacent pairs via
   two shifted array slices (the bigram build), weighted by word
   frequency, one map-side-combined groupBy. Overlapping positions
   count, as in the reference algorithm ('aaa' contributes (a,a) x2).
2. argmax — highest count, ties broken (left, right) ascending;
   a one-row frame broadcast into the merge expression.
3. merge — symbol sequences are stored as '||'-fenced strings
   ('||t||h||e||'); merging pair (x,y) is a greedy left-to-right
   fold over the symbol array (Spark `aggregate`, DuckDB
   `list_reduce` — both JVM/native-side lambdas, no UDF): append
   each symbol to the fenced accumulator, except when the
   accumulator ends with token x and the incoming symbol is y —
   then rewrite the tail to the merged token xy. Because the merged
   token xy is strictly longer than x, a just-merged tail can never
   re-match as the left of the next pair, so the fold is exactly
   the reference greedy leftmost-non-overlapping merge — including
   same-symbol runs ('aaaaa' -> [aa, aa, a]), where the previous
   multi-pass replace() implementation stranded every other symbol
   ('aaaaa' -> [aa, a, aa]).

The step count K is a Python-side loop over DATAFRAME TRANSFORMS
(like the PageRank supersteps) — K is small and fixed; the data never
returns to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sftp_data_ingestion_spark.rebalance import cut


def _symbols(seq):
    return F.filter(F.split(seq, r"\|\|"), lambda x: x != "")


def _pair_counts(vocab: DataFrame) -> DataFrame:
    syms = _symbols(F.col("seq"))
    n1 = F.greatest(F.size(syms) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(syms, 1, n1),
        F.slice(syms, 2, n1),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        vocab.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def _merge_once(seq, left, right):
    # greedy leftmost-non-overlapping merge of (left, right) as a fold
    # over the symbol array with the fenced string as accumulator: the
    # accumulator ends with '||x||' iff its LAST TOKEN is exactly x
    # (tokens cannot contain '|'), and a merged tail token xy is
    # longer than x so it never re-matches — see module docstring.
    tail = F.concat(F.lit("||"), left, F.lit("||"))
    return F.aggregate(
        _symbols(seq),
        F.lit("||"),
        lambda acc, s: F.when(
            acc.endswith(tail) & (s == right),
            F.concat(
                F.substring(
                    acc, F.lit(1), F.length(acc) - F.length(left) - 2
                ),
                left,
                right,
                F.lit("||"),
            ),
        ).otherwise(F.concat(acc, s, F.lit("||"))),
    )


def word_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace-normalized lowercase text — the
    single corpus-wide scan BPE training needs."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    w = df.select(F.explode(F.split(norm, " ")).alias("word")).where(
        # '|' is the symbol fence; a word containing it would corrupt
        # the fenced sequence encoding, so such words are excluded
        # from training (at 100 TB: remap to a private-use codepoint)
        (F.col("word") != "") & (~F.col("word").contains("|"))
    )
    return w.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def train_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    return_vocab: bool = False,
):
    """Learn the first ``n_merges`` BPE merges; returns one row per
    step: (step, left, right, pair_count)."""
    vocab = word_histogram(df, text_col).select(
        "word",
        F.concat(
            F.lit("||"),
            F.array_join(F.split(F.col("word"), ""), "||"),
            F.lit("||"),
        ).alias("seq"),
        "freq",
    )
    results = []
    for step in range(1, int(n_merges) + 1):
        best = (
            _pair_counts(vocab)
            .orderBy(
                F.col("pair_count").desc(),
                F.col("left").asc(),
                F.col("right").asc(),
            )
            .limit(1)
            .withColumn("step", F.lit(step))
        )
        # pin this step's winner: the merge below and the next step's
        # counts must both see ONE materialized answer (re-execution
        # could re-derive it nondeterministically under equal counts
        # on different plans)
        best = cut(best)
        results.append(best)
        vocab = vocab.crossJoin(
            F.broadcast(best.select(F.col("left").alias("__l"),
                                    F.col("right").alias("__r")))
        ).select(
            "word",
            _merge_once(F.col("seq"), F.col("__l"), F.col("__r")).alias(
                "seq"
            ),
            "freq",
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    if return_vocab:
        return out.select(
            "step",
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            "pair_count",
        ), vocab
    return out.select(
        "step",
        F.col("left").alias("left_sym"),
        F.col("right").alias("right_sym"),
        "pair_count",
    )


def bpe_oracle_sql(n_merges: int = 3) -> str:
    """Unrolled DuckDB twin of :func:`train_bpe_merges` — the same
    histogram, pair-count, argmax, and greedy list_reduce merge
    fold per step."""
    sql = [
        r"""WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(
      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
    FROM documents
  ) WHERE word <> '' AND word NOT LIKE '%|%' GROUP BY word
), vocab0 AS (
  SELECT word,
         '||' || array_to_string(string_split(word, ''), '||') || '||'
           AS seq, freq
  FROM words
)"""
    ]
    for k in range(1, int(n_merges) + 1):
        prev = f"vocab{k - 1}"
        sql.append(
            f""", pairs{k} AS (
  SELECT syms[i + 1] AS left_, syms[i + 2] AS right_,
         CAST(sum(freq) AS BIGINT) AS pair_count
  FROM (
    SELECT list_filter(string_split(seq, '||'), x -> x <> '') AS syms,
           freq, unnest(range(greatest(
             length(list_filter(string_split(seq, '||'), x -> x <> '')) - 1,
             0))) AS i
    FROM {prev}
  ) GROUP BY 1, 2
), best{k} AS (
  SELECT left_, right_, pair_count FROM pairs{k}
  ORDER BY pair_count DESC, left_ ASC, right_ ASC LIMIT 1
), vocab{k} AS (
  SELECT word, list_reduce(
           list_prepend('||',
             list_filter(string_split(seq, '||'), x -> x <> '')),
           (acc, s) -> CASE
             WHEN ends_with(acc, '||' || b.left_ || '||')
                  AND s = b.right_
             THEN substr(acc, 1, length(acc) - length(b.left_) - 2)
                  || b.left_ || b.right_ || '||'
             ELSE acc || s || '||' END) AS seq, freq
  FROM {prev} CROSS JOIN best{k} b
)"""
        )
    selects = [
        f"SELECT {k} AS step, left_ AS left_sym, right_ AS right_sym, pair_count "
        f"FROM best{k}"
        for k in range(1, int(n_merges) + 1)
    ]
    return "".join(sql) + "\n" + "\nUNION ALL ".join(selects)


def bpe_token_counts(
    df: DataFrame, text_col: str = "text", n_merges: int = 3
) -> DataFrame:
    """Tokenize with the just-learned merges: per document, the word
    count and the subword-token count after ``n_merges`` BPE merges.
    The trained vocabulary (word -> merged symbol sequence) is a
    |V|-row broadcastable map, so encoding a 100 TB corpus is one
    map-side join — the same economics as the training side."""
    _, vocab = train_bpe_merges(
        df, text_col, n_merges, return_vocab=True
    )
    wmap = vocab.select(
        "word", F.size(_symbols(F.col("seq"))).alias("n_syms")
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    doc_words = df.select(
        "doc_id", F.explode(F.split(norm, " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        doc_words.join(F.broadcast(wmap), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )


def bpe_token_counts_oracle_sql(n_merges: int = 3) -> str:
    """DuckDB twin of :func:`bpe_token_counts` — extends the unrolled
    training SQL with the final vocabulary join back to documents."""
    train = bpe_oracle_sql(n_merges)
    # reuse the training CTE chain up to vocab{n}: the final SELECTs
    # contain no parentheses, so the last ')' closes vocab{n}
    cte_end = train.rindex(")")
    ctes = train[: cte_end + 1]
    return (
        ctes
        + f""", wmap AS (
  SELECT word,
         length(list_filter(string_split(seq, '||'), x -> x <> ''))
           AS n_syms
  FROM vocab{int(n_merges)}
), doc_words AS (
  SELECT doc_id, unnest(string_split(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
FROM doc_words JOIN wmap USING (word)
WHERE word <> ''
GROUP BY doc_id"""
    )


def bpe_fertility_by_source(
    df: DataFrame, text_col: str = "text", n_merges: int = 3
) -> DataFrame:
    """Tokenizer FERTILITY per source: BPE tokens emitted per word,
    by corpus source — the tokenizer-fit metric a data pipeline
    watches per language/domain (a source whose fertility is far
    above the corpus norm is poorly served by the learned vocabulary
    and will eat a disproportionate share of the training token
    budget). Same economics as :func:`bpe_token_counts`: training is
    histogram-bounded, the vocabulary is a broadcastable |V|-row map,
    and scoring the corpus is one map-side join + a
    source-cardinality-bounded aggregate."""
    _, vocab = train_bpe_merges(
        df, text_col, n_merges, return_vocab=True
    )
    wmap = vocab.select(
        "word", F.size(_symbols(F.col("seq"))).alias("n_syms")
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    words = df.select(
        "source", F.explode(F.split(norm, " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        words.join(F.broadcast(wmap), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_syms") / F.count(F.lit(1)), 6
            ).alias("fertility"),
        )
    )


def bpe_fertility_oracle_sql(n_merges: int = 3) -> str:
    """DuckDB twin of :func:`bpe_fertility_by_source` — the training
    CTE chain of :func:`bpe_oracle_sql` plus the per-source scoring
    aggregate."""
    train = bpe_oracle_sql(n_merges)
    cte_end = train.rindex(")")
    ctes = train[: cte_end + 1]
    return (
        ctes
        + f""", wmap AS (
  SELECT word,
         length(list_filter(string_split(seq, '||'), x -> x <> ''))
           AS n_syms
  FROM vocab{int(n_merges)}
), src_words AS (
  SELECT source, unnest(string_split(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
       round(sum(n_syms) * 1.0 / count(*), 6) AS fertility
FROM src_words JOIN wmap USING (word)
WHERE word <> ''
GROUP BY source"""
    )
