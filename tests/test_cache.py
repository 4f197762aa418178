"""Session-scoped cache registry (taxi_rides_ny_duckdb_spark/cache.py,
r10): operators register intra-query persists into the innermost open
scope; pipeline drivers (bench.py per query, plans/runner.py per node)
close the scope and exactly those frames unpersist — retiring the old
"callers clearCache between queries" convention."""

from __future__ import annotations

from pyspark.sql import functions as F


def _storage_count(spark) -> int:
    """Number of RDDs currently occupying block-manager storage.

    localCheckpoint RDDs also live here, so tests built on this must
    use operators that persist WITHOUT checkpointing."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_scoped_persist_registers_and_scope_exit_unpersists(spark):
    from taxi_rides_ny_duckdb_spark.cache import cache_scope, scoped_persist

    spark.catalog.clearCache()
    base = _storage_count(spark)
    df = spark.range(0, 1000)
    with cache_scope() as frames:
        p = scoped_persist(df.select((F.col("id") * 2).alias("x")))
        p.count()
        assert len(frames) == 1
        assert _storage_count(spark) == base + 1
    assert _storage_count(spark) == base


def test_outside_scope_behaves_like_plain_persist(spark):
    from taxi_rides_ny_duckdb_spark.cache import scoped_persist

    spark.catalog.clearCache()
    base = _storage_count(spark)
    p = scoped_persist(spark.range(0, 10).select(F.col("id").alias("y")))
    p.count()
    assert _storage_count(spark) == base + 1  # persists...
    p.unpersist()
    assert _storage_count(spark) == base  # ...and caller manages lifetime


def test_scopes_nest_innermost_wins(spark):
    from taxi_rides_ny_duckdb_spark.cache import cache_scope, scoped_persist

    spark.catalog.clearCache()
    base = _storage_count(spark)
    with cache_scope() as outer:
        a = scoped_persist(spark.range(0, 50).select((F.col("id") + 1).alias("a")))
        a.count()
        with cache_scope() as inner:
            b = scoped_persist(
                spark.range(0, 50).select((F.col("id") + 2).alias("b"))
            )
            b.count()
            assert len(inner) == 1 and len(outer) == 1
            assert _storage_count(spark) == base + 2
        # inner scope closed: only its frame dropped
        assert _storage_count(spark) == base + 1
    assert _storage_count(spark) == base


def test_two_operator_pipeline_leaves_no_orphan_cache_entries(spark):
    """The VERDICT r9 task-4 acceptance: run two real operators that
    persist intermediates (winnowing passage matcher, token-budget
    selector — neither localCheckpoints) inside one scope; after the
    scope closes the block manager holds nothing new."""
    from taxi_rides_ny_duckdb_spark.cache import cache_scope
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        winnow_passage_matches,
    )
    from taxi_rides_ny_duckdb_spark.operators.sampling import (
        token_budget_select,
    )

    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(f"w{(i + j) % 9}" for j in range(12)),
                10 + i % 5,
                (i % 10) / 10.0,
            )
            for i in range(60)
        ],
        "doc_id long, text string, n_tokens int, score double",
    )
    spark.catalog.clearCache()
    base = _storage_count(spark)
    with cache_scope():
        n_pairs = winnow_passage_matches(docs, "text", "doc_id").count()
        n_sel = token_budget_select(
            docs, "doc_id", "score", "n_tokens", budget=100
        ).count()
        assert n_pairs >= 0 and n_sel > 0
        assert _storage_count(spark) > base, "operators should have persisted"
    assert _storage_count(spark) == base, "scope exit must drop all registrations"


def test_per_session_memo_rule(spark, sf_dir):
    """``session.per_session`` keys on (session object, *args): a
    memoized contract query and a source scan hand back the same object
    within a session while the unmemoized builder does not, each
    distinct argument tuple builds once, and ``spark.newSession()``
    gets its own entries."""
    from taxi_rides_ny_duckdb_spark import contract
    from taxi_rides_ny_duckdb_spark.session import per_session
    from taxi_rides_ny_duckdb_spark.sources.registry import load

    contract.load_all()
    name = "s1_scan_filter_project"
    q, b = contract.QUERIES[name], contract.BUILDERS[name]
    assert q(spark, sf_dir) is q(spark, sf_dir)
    assert b(spark, sf_dir) is not b(spark, sf_dir)
    assert load(spark, sf_dir, "orders") is load(spark, sf_dir, "orders")
    assert load(spark, sf_dir, "orders") is not load(spark, sf_dir, "lineitem")

    calls = []

    @per_session
    def build(s, a, tag):
        """Build marker."""
        calls.append((a, tag))
        return object()

    assert (build.__name__, build.__doc__) == ("build", "Build marker.")
    first = build(spark, 1, "x")
    assert build(spark, 1, "x") is first
    assert build(spark, 2, "x") is not first
    assert calls == [(1, "x"), (2, "x")]

    other = spark.newSession()
    assert build(other, 1, "x") is not first
    assert build(other, 1, "x") is build(other, 1, "x")
    assert calls == [(1, "x"), (2, "x"), (1, "x")]
    assert load(other, sf_dir, "orders") is not load(spark, sf_dir, "orders")
    assert q(other, sf_dir) is not q(spark, sf_dir)
