"""Connected-components / near-dup clustering tests: transitive
closure correctness on shapes LSH pairs produce (cliques, chains,
singletons) — the keep/drop layer above pair detection."""

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from sftp_data_ingestion_spark.ext import dedup as dd


def _cc(spark, n_vertices, edges):
    v = spark.createDataFrame([(i,) for i in range(n_vertices)], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    out = dd.connected_components(v, e).collect()
    return {r["id"]: r["component"] for r in out}


def test_cc_chain_converges_to_min(spark):
    # worst case for label propagation: a path graph, min at one end
    got = _cc(spark, 5, [(0, 1), (1, 2), (2, 3), (3, 4)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0}


def test_cc_two_components_and_singleton(spark):
    got = _cc(spark, 6, [(0, 1), (3, 4), (4, 5)])
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3, 5: 3}


def test_cc_clique_one_step(spark):
    got = _cc(spark, 3, [(0, 1), (0, 2), (1, 2)])
    assert got == {0: 0, 1: 0, 2: 0}


# Runs connected_components twice in a fresh session: with local cuts,
# then with reliable cuts after setCheckpointDir. A SparkContext's
# checkpoint dir cannot be unset, so setting it on the shared test
# session would switch every later test to reliable cuts. A UDF on the
# edges counts every edge row the pipeline evaluates; the vertices are
# a range, so the semi-joins broadcast them and no shuffle output below
# the UDF could hide a recompute.
_CUT_MODES_PROBE = r"""
import json, os, sys

import pyspark.sql.functions as F

from sftp_data_ingestion_spark.ext import dedup as dd
from sftp_data_ingestion_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
sc = spark.sparkContext
seen = sc.accumulator(0)


@F.udf("long")
def counted(x):
    seen.add(1)
    return x


v = spark.range(6)
e = spark.createDataFrame(
    [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long"
).select(counted("id_a").alias("id_a"), "id_b")


def run():
    before = seen.value
    got = sorted(
        (r["id"], r["component"])
        for r in dd.connected_components(v, e).collect()
    )
    return got, seen.value - before


out = {"local": run()}
sc.setCheckpointDir(sys.argv[1])
out["reliable"] = run()
out["ckpt_files"] = sum(len(f) for _, _, f in os.walk(sys.argv[1]))
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def cut_modes(tmp_path_factory):
    ckpt = tmp_path_factory.mktemp("cc_ckpt")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    res = subprocess.run(
        [sys.executable, "-c", _CUT_MODES_PROBE, str(ckpt)],
        capture_output=True, text=True, env=env, cwd=repo, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_cc_reliable_checkpoint_same_components(cut_modes):
    """With a checkpoint dir set, every cut is a reliable checkpoint
    written to that dir; components must be identical to the local
    cuts on a shape that needs several supersteps (chain) plus a
    singleton."""
    want = [[0, 0], [1, 0], [2, 0], [3, 3], [4, 3], [5, 5]]
    assert cut_modes["local"][0] == cut_modes["reliable"][0] == want
    assert cut_modes["ckpt_files"] > 0


def test_cc_reliable_cuts_run_edge_pipeline_once(cut_modes):
    """The setup cut on the symmetrized edges is written once, so the
    edge pipeline runs once across all supersteps, exactly as often as
    with local cuts (whose blocks are cached when first computed). A
    lazy reliable checkpoint there would never be written (Spark writes
    only a job's last marked RDD), and each of the chain's 3 supersteps
    would recompute the edges: 4x the local count."""
    assert cut_modes["ckpt_files"] > 0  # the cuts really were reliable
    assert cut_modes["local"][1] > 0
    assert cut_modes["reliable"][1] == cut_modes["local"][1]


def test_neardup_clusters_marks_survivors(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "completely different text with no shared shingles here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_survivor"])
        for r in dd.neardup_clusters(df, threshold=0.5).collect()
    }
    assert out[0] == (0, True)
    assert out[1] == (0, False)   # exact dup of 0
    assert out[2] == (0, False)   # near dup (one token differs)
    assert out[3] == (3, True)    # unrelated -> own singleton cluster
    assert len(out) == 4          # every doc got a verdict


def test_chunk_boilerplate_stats(spark):
    """Docs sharing a 3-token chunk get flagged; unique content does
    not; ratio = flagged/total chunks."""
    df = spark.createDataFrame(
        [
            # doc 1 and 2 share their first chunk exactly
            (1, "the quick fox ran far away"),
            (2, "the quick fox slept all day"),
            (3, "completely different words here entirely now"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dd.chunk_boilerplate_stats(df, chunk_tokens=3).collect()
    }
    assert out[1]["n_chunks"] == 2 and out[1]["n_boiler_chunks"] == 1
    assert out[1]["boiler_ratio"] == 0.5
    assert out[2]["n_boiler_chunks"] == 1
    assert out[3]["n_boiler_chunks"] == 0 and out[3]["boiler_ratio"] == 0.0


def test_incremental_near_dup_batch_vs_corpus_only(spark):
    """Pairs pair a batch doc with a corpus doc — never batch x batch
    or corpus x corpus — and exact Jaccard gates the result."""
    batch = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta"),
            (101, "totally unrelated text goes right here"),
            # near-dup of doc 100 INSIDE the batch: must NOT pair
            (102, "alpha beta gamma delta epsilon eta"),
        ],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # dup of 100
            (2, "different corpus content entirely here now"),
            (3, "alpha beta gamma delta epsilon theta"),  # near 100
        ],
        ["doc_id", "text"],
    )
    out = dd.incremental_near_dup_pairs(
        batch, corpus, threshold=0.5, bands=32
    ).collect()
    pairs = {(r["id_batch"], r["id_corpus"]): r["jaccard"] for r in out}
    assert (100, 1) in pairs and pairs[(100, 1)] == 1.0
    assert all(b >= 100 and c < 100 for b, c in pairs)  # direction only
    assert (101, 2) not in pairs  # unrelated stays unpaired


def test_incremental_near_dup_reingested_id_uses_role_texts(spark):
    """A re-ingested id (present in batch AND corpus) with CHANGED
    text: each side of a pair must be verified against the frame its
    candidate signature came from — the batch side against the NEW
    text, the corpus side against the OLD text (ADVICE r4: the old
    batch-wins resolution could disagree with the corpus-side
    signature)."""
    base = "alpha beta gamma delta epsilon zeta"
    batch = spark.createDataFrame(
        # id 5 re-ingested with completely different text
        [(5, "totally different replacement text now")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (5, base),          # old version of the re-ingested doc
            (6, base),          # near-identical to OLD 5
        ],
        ["doc_id", "text"],
    )
    out = dd.incremental_near_dup_pairs(
        batch, corpus, threshold=0.5, bands=32
    ).collect()
    # the NEW text of id 5 matches nothing in the corpus: no pairs.
    # (batch-wins verification would have scored the corpus side of a
    # (5, 6) candidate with the NEW text too, correctly empty here —
    # the role split matters for jaccard VALUES, asserted next)
    assert out == []

    batch2 = spark.createDataFrame(
        [(5, base + " extra")],  # re-ingest: small edit
        ["doc_id", "text"],
    )
    out2 = {
        (r["id_batch"], r["id_corpus"]): r["jaccard"]
        for r in dd.incremental_near_dup_pairs(
            batch2, corpus, threshold=0.5, bands=32
        ).collect()
    }
    # batch 5 (NEW text) vs corpus 6 (OLD base): 4 shared of 5 union
    # shingles -> 0.8, NOT 1.0 (which batch-wins-on-both-sides would
    # yield by comparing the new text with itself)
    assert (5, 6) in out2 and 0.5 < out2[(5, 6)] < 1.0
    # batch 5 vs corpus 5 (its own old version) likewise scores the
    # old-vs-new texts, not new-vs-new
    if (5, 5) in out2:
        assert out2[(5, 5)] < 1.0


def test_contamination_report(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),     # shares 'alpha beta gamma'
            (2, "nothing in common here at all"),
        ],
        ["doc_id", "text"],
    )
    evalset = spark.createDataFrame(
        [(100, "alpha beta gamma epsilon")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in dd.contamination_report(
        corpus, evalset).collect()}
    # doc 1: shingles {abg, bgd}; shares exactly 'alpha beta gamma'
    assert rows[1]["n_shingles"] == 2 and rows[1]["n_shared"] == 1
    assert rows[1]["contamination"] == 0.5
    # clean docs are absent from the report entirely
    assert 2 not in rows


def test_pack_sequences_concat_then_chunk(spark):
    """Docs pack by their start offset in the concatenated per-shard
    token stream: budget 5, doc lengths 3+3+4 -> starts 0,3,6 ->
    packs 0,0,1."""
    from sftp_data_ingestion_spark.ext import textstats as ts

    df = spark.createDataFrame(
        [
            ("s", 1, "a b c"),
            ("s", 2, "d e f"),
            ("s", 3, "g h i j"),
            ("t", 9, "lone doc"),
        ],
        ["source", "doc_id", "text"],
    )
    rows = {
        (r["source"], r["doc_id"]): (r["start_offset"], r["pack_id"])
        for r in ts.pack_sequences(df, budget=5).collect()
    }
    assert rows[("s", 1)] == (0, 0)
    assert rows[("s", 2)] == (3, 0)
    assert rows[("s", 3)] == (6, 1)
    assert rows[("t", 9)] == (0, 0)  # shards are independent


def test_lsh_bucketed_band_join_exchange_free(spark, tmp_path):
    """The 100 TB LSH layout, pinned: with the per-band rows
    materialized as a band_hash-BUCKETED table, the bucket self-join
    (the candidate stage every repeated near-dup scan re-runs) reads
    HashPartitioning(band_hash) off the scan and plans NO band
    exchange; the same join over the non-bucketed banded frame DOES
    shuffle on the band key (proving the layout, not a planner
    accident, removes it). Candidates must be value-identical to the
    derive-inline path."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = dd.minhash_signatures(docs)
    banded = dd.banded_bucketed_signatures(
        spark, sig, "lsh_banded_bucketed_test",
        str(tmp_path / "banded"), num_buckets=8,
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        # pin the AT-SCALE regime: at 100 TB neither side of the band
        # self-join fits a broadcast budget
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            pairs = dd.lsh_candidate_pairs_from_banded(banded)
            p = pairs._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(band_hash" not in p
            assert "Bucketed: true" in p
            assert "SortMergeJoin" in p or "ShuffledHashJoin" in p

            # contrast: the derive-inline banded frame must shuffle
            # on the band key
            inline = dd.lsh_candidate_pairs_from_banded(
                dd._banded(sig, "doc_id", 64, 16)
            )
            ps = inline._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(band_hash" in ps
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        got = sorted(map(tuple, pairs.collect()))
        want = sorted(map(tuple, dd.lsh_candidate_pairs(sig).collect()))
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_banded_bucketed_test")


def test_crossdoc_dup_spans_hand_computed(spark):
    """Planted fixture for the substring-level duplicated-span
    operator: a 7-token run shared across two docs must merge its
    three overlapping duplicated 5-shingles into ONE maximal span per
    doc; a within-doc repeat with a gap > k must yield TWO islands; a
    unique doc yields nothing."""
    from pyspark.sql import functions as F

    from sftp_data_ingestion_spark.ext.dedup import crossdoc_dup_spans

    rows = [
        (1, "a b c d e f g h i j"),        # shares a..g with doc 2
        (2, "x x a b c d e f g y"),
        (3, "p q r s t u"),                # unique -> no spans
        (4, "m n o p q z z m n o p q"),    # internal repeat, gap 7 > 5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
        for r in crossdoc_dup_spans(df, k=5).collect()
    )
    assert got == [
        (1, 0, 7, 7),   # "a b c d e f g": dup shingles at pos 0,1,2
        (2, 2, 9, 7),   # same run at pos 2..4
        (4, 0, 5, 5),   # first "m n o p q"
        (4, 7, 12, 5),  # second, its own island (gap 7 > k)
    ]


def test_strip_dup_spans_hand_computed(spark):
    """Apply-step fixture: the shared 7-token run disappears from
    BOTH docs (symmetric strip), the within-doc repeat loses both
    occurrences, the unique doc is reconstructed whole (normalized),
    and the accounting columns add up."""
    from sftp_data_ingestion_spark.ext.dedup import strip_dup_spans

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x x a b c d e f g y"),
        (3, "p q r s t u"),
        (4, "m n o p q z z m n o p q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_kept"], r["n_tokens_removed"])
        for r in strip_dup_spans(df, k=5).collect()
    }
    assert got == {
        1: ("h i j", 3, 7),
        2: ("x x y", 3, 7),
        3: ("p q r s t u", 6, 0),
        4: ("z z", 2, 10),
    }


def test_cdc_chunks_shift_resistant(spark):
    """CDC's defining property: prepending text re-chunks only the
    neighborhood of the insertion — every chunk after the first
    content-defined boundary keeps its identity."""
    from sftp_data_ingestion_spark.ext import dedup as dd

    t = (
        "the quick brown fox jumps over the lazy dog and runs far away"
        " into the woods tonight again and then sleeps for a long time"
    )
    df = spark.createDataFrame(
        [(1, t), (2, "some inserted prefix junk " + t)],
        "doc_id long, text string",
    )
    rows = dd.cdc_chunks(df).collect()
    c1 = [r["chunk"] for r in rows if r["doc_id"] == 1]
    c2 = [r["chunk"] for r in rows if r["doc_id"] == 2]
    shared = set(c1) & set(c2)
    # everything from the first shared boundary on survives the shift
    assert len(shared) >= len(c1) - 1 >= 1
    # chunks reassemble exactly (no characters lost or duplicated)
    assert "".join(c1) == t.lower()


def test_cdc_chunk_dedup_finds_planted_boiler(spark):
    """The planted boilerplate prefix (doc_id % 4 == 1) must surface
    as cross-doc duplicated chunks covering ~125 docs at sf0.01."""
    from sftp_data_ingestion_spark import queries as q

    rows = q.QUERIES["d_cdc_chunk_dedup"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows, "no duplicated chunks found"
    top = max(rows, key=lambda r: r["n_docs"])
    assert top["n_docs"] >= 100, f"boiler not found: {top}"


def test_star_contraction_beats_label_prop_on_chains(spark):
    """On a 200-long chain, min-label propagation at its default
    20-iteration cap refuses loudly (labels move one hop per
    superstep, so needed iterations = diameter), while star
    contraction reaches the exact components in O(log^2 n) rounds —
    the reason the graph module carries both."""
    from sftp_data_ingestion_spark.ext import dedup as dd
    from sftp_data_ingestion_spark.ext.graph import cc_star_contraction

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    verts = spark.createDataFrame([(i,) for i in range(201)], "id long")
    star = {
        r["id"]: r["component"]
        for r in cc_star_contraction(verts, edges).collect()
    }
    assert all(star[i] == 0 for i in range(201))
    import pytest as _pytest

    # label propagation refuses loudly: needed iterations = diameter
    with _pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(verts, edges, max_iters=20).collect()


def test_cdc_arrow_engine_value_identical(spark):
    """The vectorized CDC kernel must emit exactly the chunks the
    expression-HOF reference emits (same normalization, same window
    hash, same bounds), including on multi-space and short inputs."""
    from sftp_data_ingestion_spark.ext import dedup as dd

    rows = [
        (1, "the   quick\tbrown fox  jumps over the lazy dog tonight"),
        (2, "tiny"),
        (3, "  padded   with   runs   of   whitespace  everywhere  "),
        (4, "x" * 300),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, dd.cdc_chunks(df).collect()))
    b = sorted(map(tuple, dd.cdc_chunks_arrow(df).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# ExactSubstr (Lee et al.) fingerprint engine vs shingle engine (r13)
# ---------------------------------------------------------------------------


def _xs_planted(spark):
    from sftp_data_ingestion_spark.queries.q_text import _XS_PLANTS

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    return d.unionByName(
        spark.createDataFrame(_XS_PLANTS, "doc_id long, text string")
    )


def test_exact_substr_matches_shingle_engine(spark):
    """exact_substr_dup_spans(min_len=L) is semantically
    crossdoc_dup_spans(k=L) — the fingerprint kernel + exact verify
    must reproduce the materialized-shingle engine row-for-row (the
    cross-engine check that makes the 16-bytes-per-position shuffle a
    pure optimization)."""
    d = _xs_planted(spark)
    fp = sorted(map(tuple, dd.exact_substr_dup_spans(d, min_len=50).collect()))
    sh = sorted(map(tuple, dd.crossdoc_dup_spans(d, k=50).collect()))
    assert fp == sh and len(fp) > 0


def test_exact_substr_planted_spans_and_strip_accounting(spark):
    """The planted battery resolves exactly (offset-shifted cross-doc
    span, within-doc repeat at gap > L, sub-threshold decoy silent),
    and strip_dup_spans(k=50) accounting agrees: tokens removed per
    planted doc == the span coverage (spans are disjoint per doc by
    construction of the island merge)."""
    from pyspark.sql import functions as F

    d = _xs_planted(spark)
    spans = dd.exact_substr_dup_spans(d, min_len=50)
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"])
        for r in spans.where(F.col("doc_id") >= 200001).collect()
    }
    planted = {
        r["doc_id"]
        for r in spans.where(F.col("doc_id") >= 200001)
        .select("doc_id").distinct().collect()
    }
    assert got[200001] == (10, 70, 60)
    assert got[200002] == (5, 65, 60)
    assert planted == {200001, 200002, 200003}  # decoys 200004/5 silent
    p3 = sorted(
        map(
            tuple,
            spans.where(F.col("doc_id") == 200003)
            .select("span_start", "span_end").collect(),
        )
    )
    assert p3 == [(5, 60), (63, 118)]

    removed = {
        r["doc_id"]: r["n_tokens_removed"]
        for r in dd.strip_dup_spans(d, k=50)
        .where(F.col("doc_id") >= 200001)
        .collect()
    }
    cover = {
        r["doc_id"]: r["cov"]
        for r in spans.groupBy("doc_id")
        .agg(F.sum("n_tokens").alias("cov"))
        .where(F.col("doc_id") >= 200001)
        .collect()
    }
    assert removed[200001] == cover[200001] == 60
    assert removed[200003] == cover[200003] == 110
    assert removed[200004] == 0 and removed[200005] == 0
