"""Property tests (SURVEY §5.2(4)): hypothesis-generated inputs run
through the Spark Column cascades and compared against independent
pure-Python models of the reference semantics
(/root/reference/python/03_upsert_dw_pedidos.py:22-171).

Each property evaluates ONE batched DataFrame per example (lists of
strings, not per-string Spark jobs) to keep runtime sane.
"""

from __future__ import annotations

import datetime as dt
import re
from decimal import ROUND_HALF_UP, Decimal, InvalidOperation

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from sftp_data_ingestion_spark.functions import cleaning as cl

# ---------------------------------------------------------------------------
# pure-Python models (independent of both Spark and the oracle SQL)
# ---------------------------------------------------------------------------


def model_nfe_key(s: str) -> str | None:
    d = re.sub(r"\D", "", s)
    return d if len(d) == 44 else None


def model_uf(s: str) -> str | None:
    x = re.sub("[^A-Za-z]", "", s).upper()
    return x if 2 <= len(x) <= 3 else None


def model_digits_to_int(s: str) -> int | None:
    d = re.sub(r"\D", "", s)
    if d == "":
        return None
    v = int(d)
    return v if -(2**31) <= v < 2**31 else None


def model_parse_date(s: str) -> dt.date | None:
    t = s.strip()
    if t in cl.DATE_SENTINELS:
        return None
    if re.fullmatch(r"\d{2}/\d{2}/\d{4}( \d{2}:\d{2}:\d{2})?", t):
        base = t if " " in t else t + " 00:00:00"
        try:
            return dt.datetime.strptime(base, "%d/%m/%Y %H:%M:%S").date()
        except ValueError:
            return None
    if re.fullmatch(r"\d{2}-\d{2}-\d{4}", t):
        try:
            return dt.datetime.strptime(t, "%d-%m-%Y").date()
        except ValueError:
            return None
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2})?)?", t):
        u = t.replace("T", " ")
        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M", "%Y-%m-%d"):
            try:
                return dt.datetime.strptime(u, fmt).date()
            except ValueError:
                continue
        return None
    if re.fullmatch(r"\d{8}", t):
        try:
            return dt.datetime.strptime(t, "%Y%m%d").date()
        except ValueError:
            return None
    return None


def model_parse_decimal(s: str | None, precision: int, scale: int):
    if s is None:
        return None
    t = s.strip()
    if t == "":
        return None

    def to_dec(x: str):
        try:
            v = Decimal(x)
        except InvalidOperation:
            return None
        q = v.quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)
        return q if abs(q) < Decimal(10) ** (precision - scale) else None

    for guard, tag in cl._decimal_branches(scale):
        if re.fullmatch(guard, t):
            if tag == "ptbr":
                return to_dec(t.replace(".", "").replace(",", "."))
            if tag == "enus":
                return to_dec(t.replace(",", ""))
            if tag == "comma":
                return to_dec(t.replace(",", "."))
            if tag == "strip_dot":
                return to_dec(t.replace(".", ""))
            if tag == "strip_comma":
                return to_dec(t.replace(",", ""))
            return to_dec(t)
    fb = re.sub("[^0-9,.-]", "", s).replace(".", "").replace(",", ".")
    return to_dec(fb)


# ---------------------------------------------------------------------------
# input grammars
# ---------------------------------------------------------------------------

_dates = st.dates(dt.date(1, 1, 1), dt.date(9999, 12, 31))

date_strings = st.one_of(
    _dates.map(lambda d: d.strftime("%d/%m/%Y")),
    _dates.map(lambda d: d.strftime("%d/%m/%Y 13:45:12")),
    _dates.map(lambda d: d.strftime("%d-%m-%Y")),
    _dates.map(lambda d: d.strftime("%Y-%m-%d")),
    _dates.map(lambda d: d.strftime("%Y-%m-%dT08:30")),
    _dates.map(lambda d: d.strftime("%Y%m%d")),
    st.sampled_from(list(cl.DATE_SENTINELS)),
    st.sampled_from(["31/02/2024", "99/99/9999", "2024-13-45", "garbage"]),
    st.text(st.characters(codec="ascii"), max_size=12),
)

decimal_strings = st.one_of(
    st.decimals(
        min_value=-999_999, max_value=999_999, places=2, allow_nan=False
    ).map(lambda d: str(d)),
    st.decimals(min_value=0, max_value=999_999, places=2).map(
        lambda d: str(d).replace(".", ",")
    ),
    st.integers(-10**8, 10**8).map(str),
    st.sampled_from(["1.234,56", "1,234.56", "1.234", "1,234", "R$ 12,50",
                     "12 un", "", "  ", "-", "1-2", "1.2.3,4"]),
    st.text(st.characters(codec="ascii"), max_size=10),
)

key_strings = st.one_of(
    st.text(st.characters(codec="ascii"), max_size=50),
    st.integers(0, 10**44).map(lambda n: str(n).zfill(44)),
    st.integers(0, 10**43).map(lambda n: str(n).zfill(43)),
    st.integers(0, 10**20).map(lambda n: f"{n:025d}.{n % 10**19:019d}"),
)


def _run_column(spark, values, col_builder, out_type):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [
        r["o"] for r in df.select(col_builder(F.col("s")).cast(out_type).alias("o")).collect()
    ]


# ---------------------------------------------------------------------------
# properties
# ---------------------------------------------------------------------------


@settings(max_examples=5, deadline=None)
@given(st.lists(date_strings, min_size=1, max_size=80))
def test_parse_date_matches_model(spark, values):
    got = _run_column(spark, values, cl.parse_date_multi, "date")
    want = [model_parse_date(v) for v in values]
    assert got == want


@settings(max_examples=5, deadline=None)
@given(st.lists(decimal_strings, min_size=1, max_size=80))
def test_parse_decimal_matches_model(spark, values):
    got = _run_column(
        spark, values, lambda c: cl.parse_decimal(c, 15, 2), "decimal(15,2)"
    )
    want = [model_parse_decimal(v, 15, 2) for v in values]
    assert got == want


@settings(max_examples=5, deadline=None)
@given(st.lists(key_strings, min_size=1, max_size=80))
def test_nfe_key_matches_model(spark, values):
    got = _run_column(spark, values, cl.nfe_key_44, "string")
    assert got == [model_nfe_key(v) for v in values]


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(max_size=10), min_size=1, max_size=80))
def test_uf_matches_model(spark, values):
    got = _run_column(spark, values, cl.clean_uf, "string")
    assert got == [model_uf(v) for v in values]


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(st.characters(codec="ascii"), max_size=15),
                min_size=1, max_size=80))
def test_digits_to_int_matches_model(spark, values):
    got = _run_column(spark, values, cl.digits_to_int, "int")
    assert got == [model_digits_to_int(v) for v in values]


# ---------------------------------------------------------------------------
# connected components vs pure-Python union-find (random graphs)
# ---------------------------------------------------------------------------


def model_components(n: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference model: union-find, component label = min member id."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, int] = {}
    roots: dict[int, int] = {}
    for v in range(n):
        r = find(v)
        roots.setdefault(r, min(roots.get(r, r), r))
        comp[v] = find(v)
    # normalize label to min member id per component
    mins: dict[int, int] = {}
    for v in range(n):
        r = comp[v]
        mins[r] = min(mins.get(r, v), v)
    return {v: mins[comp[v]] for v in range(n)}


@settings(max_examples=12, deadline=None)
@given(
    st.integers(min_value=2, max_value=14).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.tuples(
                    st.integers(0, n - 1), st.integers(0, n - 1)
                ).filter(lambda e: e[0] != e[1]),
                max_size=20,
            ),
        )
    )
)
def test_connected_components_matches_union_find(spark, n_edges):
    from sftp_data_ingestion_spark.ext.dedup import connected_components

    n, edges = n_edges
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long"
    )
    if not edges:
        e = e.limit(0)
    got = {
        r["id"]: r["component"]
        for r in connected_components(v, e).collect()
    }
    assert got == model_components(n, edges)


# ---------------------------------------------------------------------------
# rolling fingerprint vs pure-Python Rabin-Karp fold
# ---------------------------------------------------------------------------


def model_rolling_fp(s: str) -> int:
    # strip(" "): Spark/DuckDB trim() removes only 0x20, while Python
    # str.strip() also removes \x1c-\x1f etc. — model the engines
    h = 0
    for ch in s.strip(" ").lower():
        h = (h * 131 + (ord(ch) if ord(ch) < 128 else 0)) % 2147483647
    return h


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet=st.characters(codec="ascii"), max_size=40),
                min_size=1, max_size=24))
def test_rolling_fingerprint_matches_model(spark, texts):
    from sftp_data_ingestion_spark.ext.textstats import rolling_fingerprint

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, t string")
    got = {r["i"]: r["fp"] for r in df.select(
        "i", rolling_fingerprint(F.col("t")).alias("fp")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == model_rolling_fp(t), repr(t)


# ---------------------------------------------------------------------------
# incremental SCD2 == full rebuild (append-only contract)
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None)
@given(
    st.lists(  # (key, ts, state) with unique ts per draw order
        st.tuples(
            st.integers(0, 3),        # few keys -> dense histories
            st.sampled_from("ABC"),   # few states -> repeats collapse
        ),
        min_size=1,
        max_size=24,
    ),
    st.integers(1, 23),  # split point
)
def test_scd2_incremental_matches_rebuild_for_any_append_split(
    spark, rows, split
):
    """For ANY log and ANY global-time split (append-only per key by
    construction: ts increases with row index), applying the suffix
    incrementally to the prefix's history equals rebuilding from the
    full log."""
    from sftp_data_ingestion_spark.operators.scd2 import (
        scd2_from_changelog,
        scd2_incremental,
    )

    log = [
        (k, i, s) for i, (k, s) in enumerate(rows)
    ]  # ts = index: strictly increasing, unique
    split = min(split, len(log))
    mk = lambda part: spark.createDataFrame(
        part or [(0, 0, "A")], "k long, t long, s string"
    ).withColumn("t", F.timestamp_seconds("t"))
    hist_log, batch = log[:split], log[split:]
    history = scd2_from_changelog(
        mk(hist_log), key="k", ts="t", state_cols=["s"], tiebreak="t"
    )
    if batch:
        inc = __import__(
            "sftp_data_ingestion_spark.operators.scd2", fromlist=["x"]
        ).scd2_incremental(
            history, mk(batch), key="k", ts="t", state_cols=["s"],
            tiebreak="t",
        )
    else:
        inc = history
    full = scd2_from_changelog(
        mk(log), key="k", ts="t", state_cols=["s"], tiebreak="t"
    )
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0


# ---------------------------------------------------------------------------
# MV merge == full recompute under arbitrary batch partitions
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),
            st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        ),
        min_size=1,
        max_size=20,
    ),
    st.lists(st.integers(0, 3), min_size=1, max_size=20),
)
def test_mv_merge_matches_recompute_for_any_partition(spark, rows, cuts):
    """Splitting the rows into ANY sequence of batches and folding
    them through merge_mv_state equals one aggregate over everything
    — associativity of the algebraic state, NULLs included."""
    from sftp_data_ingestion_spark.operators.mv import (
        aggregate_batch,
        merge_mv_state,
    )

    specs = {
        "s": ("sum", "x"),
        "n": ("count", "x"),
        "lo": ("min", "x"),
        "hi": ("max", "x"),
    }
    mk = lambda part: spark.createDataFrame(part, "k long, x double")
    # derive batch boundaries from `cuts` (mod into range, sorted)
    bounds = sorted({c % len(rows) for c in cuts if c % len(rows) > 0})
    pieces, prev = [], 0
    for b in bounds + [len(rows)]:
        if rows[prev:b]:
            pieces.append(rows[prev:b])
        prev = b
    state = aggregate_batch(mk(pieces[0]), ["k"], specs)
    for piece in pieces[1:]:
        state = merge_mv_state(
            state, aggregate_batch(mk(piece), ["k"], specs), ["k"], specs
        )
    full = aggregate_batch(mk(rows), ["k"], specs)
    got = sorted(
        (r["k"], r["n"], r["lo"], r["hi"],
         None if r["s"] is None else round(r["s"], 6))
        for r in state.collect()
    )
    want = sorted(
        (r["k"], r["n"], r["lo"], r["hi"],
         None if r["s"] is None else round(r["s"], 6))
        for r in full.collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# versioned table: op-sequence model
# ---------------------------------------------------------------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("overwrite"), st.integers(0, 9)),
            st.tuples(st.just("append"), st.integers(0, 9)),
            st.tuples(st.just("rollback"), st.integers(0, 5)),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_versioned_table_matches_sequence_model(spark, tmp_path_factory, ops):
    """Any sequence of overwrite/append/rollback commits must leave
    every version's readable contents equal to a trivial list model —
    the invariant that makes time travel trustworthy."""
    from sftp_data_ingestion_spark.io import versioned as vt

    root = str(tmp_path_factory.mktemp("vtp"))
    model: dict[int, list[int]] = {}  # version -> expected multiset
    head: list[int] = []
    for kind, arg in ops:
        if kind == "rollback":
            if not model:
                continue
            vs = sorted(model)
            target = vs[arg % len(vs)]
            v = vt.rollback(root, target)
            head = list(model[target])
        else:
            batch = [arg * 10 + i for i in range(3)]
            df = spark.createDataFrame([(x,) for x in batch], "v long")
            v = vt.commit(df, root, mode=kind)
            head = (head if kind == "append" else []) + batch
        model[v] = list(head)
    if not model:  # every op was a rollback on an empty table: no-op
        return
    for v, want in model.items():
        got = sorted(r["v"] for r in vt.read(spark, root, v).collect())
        assert got == sorted(want), f"version {v}"
    latest = sorted(r["v"] for r in vt.read(spark, root).collect())
    assert latest == sorted(model[max(model)])


# ---------------------------------------------------------------------------
# BPE greedy merge fold vs the pure-Python reference model
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        # skew toward tiny alphabets so same-symbol runs and repeated
        # pairs are common — the regime where the r6 greedy-fold fix
        # matters (the old multi-pass replace() mis-segmented runs >=5)
        st.text(alphabet="ab", min_size=1, max_size=9),
        min_size=2,
        max_size=14,
    )
)
def test_bpe_merges_match_model_on_random_words(spark, words):
    from sftp_data_ingestion_spark.ext.bpe import train_bpe_merges

    from tests.test_bpe import _model_merges

    df = spark.createDataFrame([(" ".join(words),)], "text string")
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in train_bpe_merges(df, n_merges=3).orderBy("step").collect()
    ]
    # both sides may stop early when no pair remains (e.g. all
    # single-char words); step rows must agree exactly while both run
    model = _model_merges(words, 3)
    assert got == model[: len(got)]
    assert len(got) == len(model)


# ---------------------------------------------------------------------------
# interval x interval overlap join (r7): bucketed == brute force
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),          # key
            st.integers(0, 40),          # start day offset
            st.integers(0, 15),          # duration days (0 = instant)
        ),
        min_size=1,
        max_size=12,
    ),
    st.lists(
        st.tuples(
            st.integers(0, 2),
            st.integers(0, 40),
            st.integers(0, 15),
        ),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from(["1 day", "3 days", "7 days", "30 days"]),
)
def test_interval_join_matches_brute_force(spark, ls, rs, bucket):
    """For ANY interval sets and ANY bucket width, the bucketed +
    anchored join must produce exactly the closed-interval overlap
    relation — once per pair (zero-length intervals, exact-touch
    boundaries, and bucket-edge alignment included)."""
    import datetime as dtm

    from sftp_data_ingestion_spark.operators.temporal import (
        interval_join_overlap,
    )

    base = dtm.datetime(2024, 1, 1)

    def frame(rows, prefix):
        data = [
            (
                k,
                i,
                base + dtm.timedelta(days=s),
                base + dtm.timedelta(days=s + d),
            )
            for i, (k, s, d) in enumerate(rows)
        ]
        return spark.createDataFrame(
            data,
            f"k int, {prefix}id int, {prefix}s timestamp, {prefix}e timestamp",
        )

    left, right = frame(ls, "l"), frame(rs, "r")
    got = sorted(
        (r["k"], r["lid"], r["rid"])
        for r in interval_join_overlap(
            left, right, "ls", "le", "rs", "re", bucket=bucket, keys=["k"]
        ).collect()
    )
    expect = sorted(
        (lk, li, ri)
        for li, (lk, lss, ld) in enumerate(ls)
        for ri, (rk, rss, rd) in enumerate(rs)
        if lk == rk and lss <= rss + rd and rss <= lss + ld
    )
    assert got == expect


# ---------------------------------------------------------------------------
# JPEG codec (r7): restart framing never changes pixels; error bounded
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.integers(8, 40),
    st.integers(8, 40),
    st.integers(0, 2**32 - 1),
    st.sampled_from([0, 1, 3, 5, 100]),
)
def test_jpeg_roundtrip_bounded_and_restart_invariant(w, h, seed, interval):
    """For ANY dimensions and content: decode(encode(x)) preserves
    dims exactly, bounds the per-pixel error, and a restart interval
    changes FRAMING only — decoded bytes are bit-identical to the
    non-restart encoding's decode."""
    import numpy as np

    from sftp_data_ingestion_spark.ext.jpeg import decode_gray, encode_gray

    rng = np.random.default_rng(seed)
    # smooth-ish content (random DC per 8x8-ish region + mild noise)
    # keeps the q90 error bound meaningful; pure noise is the codec's
    # documented worst case and is covered by the fixed tests
    img = (
        rng.integers(0, 200, size=((h + 7) // 8, (w + 7) // 8))
        .repeat(8, 0)
        .repeat(8, 1)[:h, :w]
        + rng.integers(0, 40, size=(h, w))
    ).astype(np.uint8)
    raw = img.tobytes()
    base = decode_gray(encode_gray(w, h, raw, 90))
    assert base[0] == w and base[1] == h and len(base[2]) == w * h
    err = np.abs(
        np.frombuffer(base[2], np.uint8).astype(int)
        - np.frombuffer(raw, np.uint8).astype(int)
    )
    assert err.max() <= 64 and err.mean() <= 16
    if interval:
        rst = decode_gray(encode_gray(w, h, raw, 90, restart_interval=interval))
        assert rst[2] == base[2]


# ---------------------------------------------------------------------------
# shared-shingle pair intersections vs a pure-Python posting model
# (the r8 max_df df-pruning discipline)
# ---------------------------------------------------------------------------


def model_pairs(postings, max_df, directed):
    from collections import Counter, defaultdict

    by_key = defaultdict(list)
    df = Counter(k for _, k in postings)
    for i, k in postings:
        if max_df is None or df[k] <= max_df:
            by_key[k].append(i)
    out = Counter()
    for ids in by_key.values():
        for a in ids:
            for b in ids:
                if a == b:
                    continue
                if directed:
                    out[(a, b)] += 1
                elif a < b:
                    out[(a, b)] += 1
    return dict(out)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 4)),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    st.sampled_from([None, 1, 2, 3]),
    st.booleans(),
)
def test_shared_shingle_pairs_match_model(spark, postings, max_df, directed):
    from sftp_data_ingestion_spark.ext.dedup import (
        shared_shingle_intersections,
    )

    toks = spark.createDataFrame(
        [(i, f"s{k}") for i, k in postings], "doc_id long, sh string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["i"]
        for r in shared_shingle_intersections(
            toks, directed=directed, max_df=max_df
        ).collect()
    }
    want = model_pairs([(i, f"s{k}") for i, k in postings], max_df, directed)
    assert got == want


# ---------------------------------------------------------------------------
# k-means assignments: partition + determinism invariants for any corpus
# ---------------------------------------------------------------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(-1, 1, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=4,
        max_size=24,
    )
)
def test_kmeans_assignments_partition_any_corpus(spark, vecs):
    from sftp_data_ingestion_spark.ext.similarity import kmeans_assignments

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    k = 3
    a = kmeans_assignments(df, k=k, n_iters=1).collect()
    # exactly one assignment per vector, ids within [0, k)
    assert sorted(r["id"] for r in a) == list(range(len(vecs)))
    assert all(0 <= r["cluster_id"] < k for r in a)
    # deterministic under re-run (no RNG anywhere in the loop)
    b = kmeans_assignments(df, k=k, n_iters=1).collect()
    assert sorted((r["id"], r["cluster_id"]) for r in a) == sorted(
        (r["id"], r["cluster_id"]) for r in b
    )


# ---------------------------------------------------------------------------
# progressive JPEG: spectral selection is a pure re-framing
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),   # width
    st.integers(min_value=1, max_value=40),   # height
    st.integers(min_value=0, max_value=2**32 - 1),  # pixel seed
    st.lists(                                  # interior band cuts
        st.integers(min_value=2, max_value=63),
        max_size=4, unique=True,
    ),
    st.integers(min_value=1, max_value=100),  # quality
)
def test_progressive_bit_exact_property(w, h, seed, cuts, quality):
    """For ANY dims, pixels, quality, and contiguous band tiling of
    1..63, the progressive decode equals the baseline round-trip
    byte for byte — spectral selection re-frames the same quantized
    coefficients, so any divergence is a codec bug by construction."""
    import numpy as np

    from sftp_data_ingestion_spark.ext.jpeg import (
        decode_gray,
        decode_gray_progressive,
        encode_gray,
        encode_gray_progressive,
    )

    rng = np.random.default_rng(seed)
    pix = rng.integers(0, 256, size=h * w, dtype=np.uint8).tobytes()
    edges = [1] + sorted(cuts) + [64]
    bands = tuple(
        (a, b - 1) for a, b in zip(edges, edges[1:]) if a <= b - 1
    )
    base = decode_gray(encode_gray(w, h, pix, quality))[2]
    enc = encode_gray_progressive(w, h, pix, quality, bands=bands)
    got_w, got_h, dec = decode_gray_progressive(enc)
    assert (got_w, got_h) == (w, h)
    assert dec == base


# ---------------------------------------------------------------------------
# r13 session 2: paragraph dedup + HTML extraction differential models
# ---------------------------------------------------------------------------


def model_paragraph_dedup(docs):
    seen: set[str] = set()
    out = {}
    for doc_id, text in sorted(docs):
        paras = [p for p in text.split("\n") if p.strip() != ""]
        kept = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        if paras:
            out[doc_id] = (len(paras), len(kept), "\n".join(kept))
    return out


_PARA_POOL = ["a", "b b", "c", "dd", " a", "a ", "b b", "x y z"]


@given(
    st.lists(
        st.lists(st.sampled_from(_PARA_POOL + [""]), max_size=6).map(
            "\n".join
        ),
        max_size=8,
    )
)
@settings(max_examples=10, deadline=None)
def test_paragraph_dedup_matches_model(spark, texts):
    from sftp_data_ingestion_spark.ext.dedup import paragraph_dedup

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["new_text"])
        for r in paragraph_dedup(df).collect()
    }
    assert got == model_paragraph_dedup(docs)
    # conservation: total kept == corpus-wide distinct non-blank paras
    distinct = {
        p for _, t in docs for p in t.split("\n") if p.strip() != ""
    }
    assert sum(k for _, k, _ in got.values()) == len(distinct)


def model_html_to_text(s: str) -> str:
    from sftp_data_ingestion_spark.ext.textstats import (
        HTML_ENTITIES,
        HTML_STRIP_STEPS,
    )

    out = s
    for pat, rep in HTML_STRIP_STEPS:
        out = re.sub("(?s)" + pat, rep, out)
    for ent, rep in HTML_ENTITIES:
        out = out.replace(ent, rep)
    return re.sub(r"\s+", " ", out).strip()


_HTML_ALPHA = "ab <>&/;!-stylecriptnbsp\"'=\n"


@given(st.lists(st.text(alphabet=_HTML_ALPHA, max_size=40), max_size=20))
@settings(max_examples=10, deadline=None)
def test_html_to_text_matches_model(spark, texts):
    from sftp_data_ingestion_spark.ext.textstats import html_to_text

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "i long, s string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", html_to_text(F.col("s")).alias("t")).collect()
    }
    for i, s in enumerate(texts):
        assert got[i] == model_html_to_text(s), repr(s)


# ---------------------------------------------------------------------------
# winnowing fingerprints vs pure-python model (Schleimer et al. 2003)
# ---------------------------------------------------------------------------


def model_winnow(text: str, k: int = 5, w: int = 4):
    # strip(' ') not strip(): SQL trim (Spark AND DuckDB) removes
    # SPACES only — a trailing \r/\t/\n survives in both engines
    # (hypothesis counterexample '0000\r': python strip() made the
    # model drop below k chars while both engines kept 5)
    t = text.lower().strip(" ")
    if len(t) < k:
        return []
    grams = []
    for i in range(len(t) - k + 1):
        h = 0
        for j in range(k):
            h = (h * 131 + ord(t[i + j])) % 2147483647
        grams.append(h)
    w_eff = min(w, len(grams))
    out = set()
    for s in range(len(grams) - w_eff + 1):
        m = min(grams[s : s + w_eff])
        p = max(s + j for j in range(w_eff) if grams[s + j] == m)
        out.add((p, grams[p]))
    return sorted(out)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.text(st.characters(codec="ascii"), max_size=60),
            # repeated-token text drives the tie-break path (equal
            # gram hashes inside one window -> rightmost must win)
            st.integers(2, 12).map(lambda n: "ab " * n),
            st.sampled_from(["", "   ", "aaaa", "aaaaaaaaaa", "ab"]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_winnow_matches_model(spark, values):
    from sftp_data_ingestion_spark.ext import textstats as ts

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "i long, s string"
    )
    got = {
        r["i"]: sorted((p["pos"], p["fp"]) for p in r["o"])
        for r in df.select(
            "i", ts.winnow_codepoints(F.col("s")).alias("cps")
        )
        .select("i", ts.winnow_gram_hashes(F.col("cps")).alias("grams"))
        .select("i", ts.winnow_select(F.col("grams")).alias("o"))
        .collect()
    }
    want = {i: model_winnow(v) for i, v in enumerate(values)}
    assert got == want


def test_winnow_density_and_guarantee(spark):
    """The paper's two contracts on real fixture docs: (a) density —
    fingerprints per gram <= ~2/(w+1) on random-ish text; (b) the
    detection floor — two docs sharing a substring of >= k+w-1 chars
    share >= 1 fingerprint."""
    a = "the quick brown fox jumps over the lazy dog again and again"
    shared = "absolutely unique shared run"
    b = "completely different prefix text " + shared
    c = shared + " with a different suffix here"
    fps = {}
    from sftp_data_ingestion_spark.ext import textstats as ts

    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "i long, s string"
    )
    for r in df.select(
        "i", ts.winnow_codepoints(F.col("s")).alias("cps")
    ).select(
        "i", ts.winnow_gram_hashes(F.col("cps")).alias("g")
    ).select("i", ts.winnow_select(F.col("g")).alias("o")).collect():
        fps[r["i"]] = {p["fp"] for p in r["o"]}
    assert fps[1] & fps[2]  # detection floor on the shared run
    assert len(fps[0]) <= 2 * (len(a) - 5 + 1) / (4 + 1) + 2  # density


# ---------------------------------------------------------------------------
# landing CSV parse: the quote-free fast path vs the quote-aware path
# ---------------------------------------------------------------------------


def model_parse_line(line: str, sep: str, n: int) -> list[str] | None:
    """The reference's per-row path (02:146-156): csv.reader cells,
    blank-row drop, overflow folded into the last cell, short rows
    padded with ""."""
    import csv

    cells = next(
        csv.reader([line], delimiter=sep, quotechar='"', doublequote=True,
                   escapechar="\\", strict=False),
        [],
    )
    if not any(c.strip() for c in cells):
        return None
    if len(cells) > n:
        return cells[: n - 1] + [sep.join(cells[n - 1:])]
    return cells + [""] * (n - len(cells))


# no quote, backslash or non-space whitespace: quote-free lines whose
# cells csv.reader and Spark's trim both see the same way
_plain_cell = st.text(alphabet=" ab1çÉ", max_size=4)


@settings(max_examples=8, deadline=None)
@given(
    sep=st.sampled_from([",", ";", "|", "\t"]),
    n=st.integers(2, 6),
    rows=st.lists(st.lists(_plain_cell, max_size=9), max_size=25),
    bom=st.booleans(),
)
def test_plain_split_matches_quote_aware_and_csv_reader(spark, sep, n, rows, bom):
    from sftp_data_ingestion_spark.io.csv_robust import (
        _quote_aware_split,
        _unquote_repair,
        parse_lines,
    )

    header = [f"h{i}" for i in range(n)]
    header_line = sep.join(header)
    body = [sep.join(r) for r in rows] + [
        sep * 3,  # separator-only
        "   ",  # space-only
        "a" + sep + "b" + sep,  # trailing separator
        sep.join(["x"] * (n + 2)),  # ragged long
        "y",  # ragged short
    ]
    lines = [("\ufeff" if bom else "") + header_line] + body
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")

    want = [c for c in (model_parse_line(ln, sep, n) for ln in body) if c]
    fast = [list(r) for r in parse_lines(df, sep, header, header_line).collect()]
    assert fast == want

    # the quote-aware path (blank test, split, unquote, repair) over
    # the same lines, as every line took it before the fast path
    split = _quote_aware_split(sep)
    slow = (
        df.where(F.exists(split, lambda c: F.trim(c) != ""))
        .where(~F.col("value").isin(header_line, "\ufeff" + header_line))
        .select(_unquote_repair(split, sep, n).alias("c"))
    )
    assert [r["c"] + [""] * (n - len(r["c"])) for r in slow.collect()] == want
