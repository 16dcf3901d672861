"""Round-8 optimization regression tests.

Each test pins an operator-internal change from the optimization round:
the physical improvement must not drift back (plan-size assertions) and
the rewrites must preserve the exact pre-change semantics on the edge
cases the old implementations handled implicitly.
"""

from __future__ import annotations

import ast
import re

import pytest
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.operators.dedup import (
    connected_components,
    incremental_near_dup,
    simhash64,
)
from ocr_cezam_spark.operators.graph import hits
from ocr_cezam_spark.plans.audit import formatted_plan


def test_hits_plan_stays_truncated(spark):
    """The unrolled HITS loop used to DOUBLE its plan per half-step
    (measured 1506 Exchange lines at iters=3); the per-half-step lazy
    localCheckpoint keeps it linear. Bound the plan size so a refactor
    cannot silently reintroduce the blowup."""
    links = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    )
    out = hits(links, iters=3)
    plan = formatted_plan(out)
    assert plan.count("Exchange") < 60, plan.count("Exchange")
    # and it still computes: 3 hosts, L1-normalized scores
    rows = {r["host"]: r for r in out.collect()}
    assert set(rows) == {"a", "b", "c"}
    assert abs(sum(r["auth"] for r in rows.values()) - 1.0) < 1e-6


def test_simhash64_null_and_empty_text(spark):
    """The explode+aggregate vote rewrite must keep the in-row form's
    edge behavior: a null-text doc emits all-zero chunks (explode_outer
    keeps its row; all votes null -> 0), an empty-text doc hashes the
    single empty word exactly as before."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x y z")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in simhash64(df).collect()}
    assert set(rows) == {1, 2, 3}
    assert [rows[1][c] for c in ("c0", "c1", "c2", "c3")] == [0, 0, 0, 0]
    # empty string = one "" word: its md5 bits win every majority vote
    # (1 of 1), so the signature equals md5("")'s first 64 bits per chunk
    md5_empty = "d41d8cd98f00b204e9800998ecf8427e"
    expected = [int(md5_empty[4 * t: 4 * t + 4], 16) for t in range(4)]
    assert [rows[2][c] for c in ("c0", "c1", "c2", "c3")] == expected


def test_connected_components_chain_converges(spark):
    """The two-steps-per-round fixpoint must still label a long chain
    (diameter > one round's reach) with the min id, and converge."""
    edges = [(i, i + 1) for i in range(1, 10)]  # chain 1-2-...-10
    pairs = spark.createDataFrame(edges, "a long, b long")
    out = connected_components(pairs)
    rows = out.collect()
    assert len(rows) == 10
    assert all(r["component"] == 1 for r in rows)


def test_connected_components_budget_covers_diameter_max_iter_minus_one(spark):
    """max_iter // 2 + 1 rounds of two half-steps: a 6-node chain
    (diameter 5 = max_iter - 1) converges, as under a one-half-step loop
    of max_iter rounds."""
    edges = [(i, i + 1) for i in range(1, 6)]  # chain 1-2-...-6
    pairs = spark.createDataFrame(edges, "a long, b long")
    rows = connected_components(pairs, max_iter=6).collect()
    assert len(rows) == 6
    assert all(r["component"] == 1 for r in rows)


def test_connected_components_budget_still_raises_past_it(spark):
    """A 9-node chain (diameter 8) needs 5 rounds; max_iter=6 allows 4."""
    edges = [(i, i + 1) for i in range(1, 9)]  # chain 1-2-...-9
    pairs = spark.createDataFrame(edges, "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge in 4 rounds"):
        connected_components(pairs, max_iter=6)


_T = "the quick brown fox jumps over the lazy dog again and again today"
_U = "completely different words about spark shuffles and partition counts"


def test_simhash64_merges_duplicate_ids(spark):
    """Documented precondition (unique ids): rows sharing an id vote
    together into ONE signature row, not one row per input row."""
    dup = spark.createDataFrame([(1, _T), (1, _U)], "doc_id long, text string")
    pooled = spark.createDataFrame([(1, f"{_T} {_U}")],
                                   "doc_id long, text string")
    got = simhash64(dup).collect()
    assert len(got) == 1
    assert got == simhash64(pooled).collect()


def test_incremental_near_dup_merges_duplicate_ids(spark):
    """Documented precondition (unique ids per side): a repeated id gets
    ONE signature over the union of its rows' shingles, so the output has
    one row per (new_id, corpus_id), and an id repeated with two different
    texts matches as their union, not as either text."""
    corpus = spark.createDataFrame([(10, _T), (10, _T), (11, _U)],
                                   "doc_id long, text string")
    new = spark.createDataFrame([(1, _T), (1, _T), (2, _U)],
                                "doc_id long, text string")
    got = [tuple(r) for r in incremental_near_dup(new, corpus).collect()]
    assert got == [(1, 10, 1.0), (2, 11, 1.0)]
    mixed = spark.createDataFrame([(1, _T), (1, _U)],
                                  "doc_id long, text string")
    got = [tuple(r) for r in incremental_near_dup(mixed, corpus).collect()]
    assert len(got) == 1 and got[0][:2] == (1, 10) and got[0][2] < 1.0


def test_spread_floor_is_scale_adaptive(spark):
    """_spread hash-repartitions an under-partitioned scan to the default
    parallelism on the id column ALONE (no payload column is hashed) and
    is a NO-OP (plan-identical input) when the input already carries at
    least that many partitions — the property that makes it free at
    production scale."""
    from ocr_cezam_spark.queries import _spread

    n = spark.sparkContext.defaultParallelism
    small = spark.range(100).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    ).coalesce(1)
    spread = _spread(small, "doc_id")
    assert spread.rdd.getNumPartitions() == n
    keys = re.findall(r"hashpartitioning\((.*?), \d+\)", formatted_plan(spread))
    assert keys and all(re.fullmatch(r"doc_id#\d+L?", k) for k in keys), keys
    big = spark.range(1000).repartition(n * 2)
    assert _spread(big, "id") is big


def test_only_t_reads_tables_in_queries():
    """One read path: every table read in queries.py goes through _t, so
    no query can pick its own spread/no-spread read again."""
    import ocr_cezam_spark.queries as q

    readers: set[str] = set()

    def visit(node: ast.AST, owner: str) -> None:
        if isinstance(node, ast.FunctionDef):
            owner = node.name
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "read"):
            readers.add(owner)
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    with open(q.__file__) as f:
        visit(ast.parse(f.read()), "<module>")
    assert readers == {"_t"}, readers
