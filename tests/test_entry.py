"""Driver-contract smoke tests: entry() + registry integrity."""

import __spark_entry__ as em


def test_registry_shape():
    qs, oracles = em.queries(), em.oracle_sql()
    assert len(qs) >= 40
    assert set(oracles) <= set(qs)          # every oracle has a query
    assert len(oracles) >= 35               # strong-oracle coverage
    for name, fn in qs.items():
        assert callable(fn), name


def test_entry_smoke(spark):
    df = em.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert "chave_nfe" in df.columns


def test_registry_orders_unproven_before_proven():
    """The driver grades only the first ~50 registered queries, so the
    registry must report every query lacking a green driver row
    (never graded or graded red in any CORRECTNESS_r*.json) BEFORE
    every query that already has one — otherwise proof budget is spent
    re-proving green rows while the backlog starves."""
    from sftp_data_ingestion_spark.queries import (
        QUERIES,
        REGRADE_FIRST,
        _green_in_driver_rows,
    )

    green = _green_in_driver_rows()
    # REGRADE_FIRST pins rewritten-but-green paths to the absolute
    # front (they are unproven-by-code); exclude them from the
    # unproven-vs-proven ordering check below.
    order = [n for n in QUERIES if n not in REGRADE_FIRST]
    if green and len(green & set(order)) < len(order):
        first_proven = min(i for i, n in enumerate(order) if n in green)
        last_unproven = max(
            i for i, n in enumerate(order) if n not in green
        )
        assert last_unproven < first_proven, (
            f"unproven query {order[last_unproven]} is registered after "
            f"proven query {order[first_proven]}"
        )


def test_grading_rank_deterministic_without_artifacts():
    """Registry order is load-bearing for grading (the driver grades
    the first ~50 rows), so its fallback behavior must be a tested
    contract: in a tree with NO CORRECTNESS_r*.json artifacts
    (``green`` empty), the order is exactly family-rank then
    registration order — stable across imports — and reordering never
    changes the CONTENTS of QUERIES/ORACLES, only their order."""
    from sftp_data_ingestion_spark.queries import (
        ORACLES,
        QUERIES,
        _family_rank,
        _green_in_driver_rows,
        _proof_priority_order,
    )

    names = list(QUERIES)

    # No-artifact fallback: deterministic, documented order.
    bare = _proof_priority_order(names, set())
    assert bare == _proof_priority_order(names, set())  # stable
    ranks = [_family_rank(n) for n in bare]
    assert ranks == sorted(ranks), "family ranks must be non-decreasing"
    # ties break on registration order within a rank
    for rank in set(ranks):
        in_rank = [n for n in bare if _family_rank(n) == rank]
        by_reg = sorted(in_rank, key=names.index)
        assert in_rank == by_reg, f"rank {rank} not registration-ordered"

    # Reordering is a permutation: contents identical either way.
    assert sorted(bare) == sorted(names)
    green = _green_in_driver_rows()
    with_artifacts = _proof_priority_order(names, green)
    assert sorted(with_artifacts) == sorted(names)
    assert set(ORACLES) <= set(QUERIES)


def test_no_complex_typed_outputs(spark, sf_small):
    """The driver's canonicalizer sorts results as a pandas frame;
    Array/Map/Struct cells make ``sort_values`` throw ``unhashable
    type`` (r5: m_extract_features, m_png_decode_histogram). Guard the
    whole registry: every graded column must be scalar. Building the
    DataFrame analyzes the plan without running the query for lazy
    queries; the few eager ones (ANN training, streaming foreachBatch)
    run at sf0.001 where they are sub-second."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    from pyspark.util import inheritable_thread_target

    # inheritable_thread_target: pool threads inherit the JVM-side
    # thread locals (active session, job group) — without it,
    # composition paths calling SparkSession.getActiveSession() in a
    # worker thread see None.
    @inheritable_thread_target
    def schema_of(item):
        name, fn = item
        return name, fn(spark, sf_small).schema

    # Composition is independent per query, and the eager queries'
    # jobs overlap fine on Spark's FIFO scheduler (guide §2.6) — the
    # serial sweep was 351 s of the 1 720 s suite (r14), almost all
    # eager composition (checkpoints, CC supersteps, ANN training)
    # waiting on one job at a time.
    bad = []
    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, schema in pool.map(schema_of, em.queries().items()):
            for f in schema.fields:
                if isinstance(
                    f.dataType, (T.ArrayType, T.MapType, T.StructType)
                ):
                    bad.append(
                        f"{name}.{f.name}: {f.dataType.simpleString()}"
                    )
    assert not bad, f"complex-typed graded outputs: {bad}"


def test_sample_query_runs(spark, sf_small):
    df = em.queries()["w1_latest_event_per_user"](spark, sf_small)
    n = df.count()
    assert n > 0
    # one row per user (U2-style invariant)
    assert df.select("user_id").distinct().count() == n


def test_proven_block_rotates_least_recently_graded_first():
    """With the whole registry green the ~50-row grading window must
    CYCLE stale greens (r12 VERDICT #10): within the proven block,
    queries graded longest ago sort first; regrading bumps a query's
    round and pushes it behind everything staler. The pure-ordering
    contract: proven-block last-graded rounds are non-decreasing."""
    from sftp_data_ingestion_spark.queries import (
        QUERIES,
        _proof_priority_order,
        _scan_driver_artifacts,
    )

    green, last = _scan_driver_artifacts()
    names = list(QUERIES)
    order = _proof_priority_order(names, green, last)
    rounds = [last.get(n, 0) for n in order if n in green]
    assert rounds == sorted(rounds), "proven block must be stalest-first"

    # synthetic check (independent of real artifacts): regrading a
    # query moves it behind a never-regraded green with the same
    # registration position class
    nm = ["a", "b", "c"]
    g = {"a", "b", "c"}
    assert _proof_priority_order(nm, g, {"a": 5, "b": 3, "c": 4}) == [
        "b", "c", "a",
    ]
    # None preserves the pre-r13 pure registration order
    assert _proof_priority_order(nm, g, None) == nm


def test_regrade_first_pins_to_front():
    """Rewritten-but-green paths (REGRADE_FIRST) must occupy the very
    first rows of the registry in their listed order — inside the
    driver's ~50-row grading window — ahead of unproven AND proven
    queries (r13 VERDICT #1/#2: the r13 engine swaps rotated out of
    the window and were never driver-regraded)."""
    from sftp_data_ingestion_spark.queries import (
        QUERIES,
        REGRADE_FIRST,
        _proof_priority_order,
    )

    # a misspelled name would otherwise be dropped from the pin silently
    assert [n for n in REGRADE_FIRST if n not in QUERIES] == []
    assert list(QUERIES)[: len(REGRADE_FIRST)] == list(REGRADE_FIRST)
    assert len(REGRADE_FIRST) <= 50  # must all fit in the grading window

    # pure-ordering contract: pinned beats unproven beats proven
    nm = ["new_query", "pinned_q", "old_green"]
    order = _proof_priority_order(
        nm, {"pinned_q", "old_green"}, {"old_green": 3}, ("pinned_q",)
    )
    assert order == ["pinned_q", "new_query", "old_green"]
