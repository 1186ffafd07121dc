"""The two paths of the connected-components operators in
``operators.dedup``: an edge list within ``_LOCAL_GRAPH_MAX_EDGES``
is solved on the driver from one Arrow collect, a larger one by Spark
rounds. Both paths must give a brute-force model's rows under the same
schema, and the local path must cost at most two Spark jobs where the
rounds cost two or more per round."""

from __future__ import annotations

import contextlib
import random
import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from etl_deltalake_spark.operators import dedup
from etl_deltalake_spark.plans import queries_ext as qx


@contextlib.contextmanager
def _spark_path():
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "_LOCAL_GRAPH_MAX_EDGES", 0)
        yield


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _model_label_propagation(edges, iterations):
    """Synchronous min-label rounds with early exit over every id in a
    pair; a null id links nothing and shows as one (None, None) row."""
    nodes = {x for e in edges for x in e if x is not None}
    nbrs = {n: set() for n in nodes}
    for a, b in edges:
        if a is not None and b is not None:
            nbrs[a].add(b)
            nbrs[b].add(a)
    lab = {n: n for n in nodes}
    k = 0
    while iterations is None or k < iterations:
        k += 1
        new = {n: min([lab[n], *(lab[m] for m in nbrs[n])]) for n in nodes}
        if new == lab:
            break
        lab = new
    rows = list(lab.items())
    if any(x is None for e in edges for x in e):
        rows.append((None, None))
    return sorted(rows, key=repr)


def _model_components(edges):
    """Union-find components with min-id roots over the long-cast
    edges, nulls and self-loops dropped."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None or int(a) == int(b):
            continue
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted(((n, find(n)) for n in list(parent)), key=repr)


node = st.integers(0, 12)


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.too_slow],
    print_blob=True,
)
@given(
    edges=st.lists(st.tuples(node, node), max_size=20),
    nulls=st.lists(
        st.tuples(st.none() | node, st.none() | node).filter(
            lambda e: None in e
        ),
        max_size=2,
    ),
    id_type=st.sampled_from(["long", "string"]),
    iterations=st.sampled_from([1, 4, None]),
)
@example(edges=[], nulls=[], id_type="string", iterations=None)
@example(edges=[], nulls=[], id_type="long", iterations=4)
@example(
    edges=[(1, 2), (2, 2), (2, 1), (1, 2), (3, 4)],
    nulls=[(None, 3), (None, None)],
    id_type="long",
    iterations=1,
)
def test_local_path_equals_spark_path_and_model(
    spark, edges, nulls, id_type, iterations
):
    """Local path == Spark path == brute force for both operators:
    K ∈ {1, 4, None}, long and string ids (string ids order as
    strings), duplicate and reversed edges, self-loops, null ids and
    the empty edge list — rows and schemas both. The model pins the
    null case: label propagation keeps one (null, null) row and links
    nothing through it; alternating components drops the pair."""
    def cast(x):
        return x if x is None or id_type == "long" else str(x)

    data = [(cast(a), cast(b)) for a, b in edges + nulls]
    df = spark.createDataFrame(data, f"doc_a {id_type}, doc_b {id_type}")
    cases = [
        (
            lambda d: dedup.label_propagation_clusters(
                d, iterations=iterations
            ),
            _model_label_propagation(data, iterations),
        ),
        (dedup.alternating_components, _model_components(data)),
    ]
    for op, model in cases:
        local = op(df)
        with _spark_path():
            ref = op(df)
        assert local.schema == ref.schema
        assert _rows(local) == _rows(ref) == model


def _jobs(spark, fn):
    """(Spark jobs ``fn`` ran, its result), counted by job group."""
    sc = spark.sparkContext
    group = f"graph-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_small_graphs_cost_at_most_two_jobs(spark, sf_dir):
    """Building q_components' plan and clustering a 300-edge pair
    graph each run at most two Spark jobs, and the clusters come back
    as a local relation. The Spark rounds run 34 and 32 jobs here."""
    n, comp = _jobs(spark, lambda: qx.q_components(spark, sf_dir))
    assert n <= 2, n
    assert comp.count() > 0

    rng = random.Random(7)
    pairs = spark.createDataFrame(
        [(rng.randrange(150), rng.randrange(150)) for _ in range(300)],
        "doc_a long, doc_b long",
    )
    n, lp = _jobs(spark, lambda: dedup.label_propagation_clusters(pairs))
    assert n <= 2, n
    assert "LocalTableScan" in lp._jdf.queryExecution().executedPlan().toString()


def test_alternating_components_schema_is_nullable_without_edges(
    spark, graph_path
):
    """Non-nullable ids whose pairs are all self-loops leave no edge:
    the output schema is still the nullable (doc, cluster) a chain
    over the same ids gets."""
    from pyspark.sql import functions as F

    ids = spark.range(5)
    assert not ids.schema["id"].nullable
    loops = ids.select(F.col("id").alias("doc_a"), F.col("id").alias("doc_b"))
    chain = ids.select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    for pairs, rows in ((loops, []), (chain, [(i, 0) for i in range(6)])):
        out = dedup.alternating_components(pairs)
        assert _rows(out) == rows
        assert [(f.name, f.dataType.simpleString(), f.nullable)
                for f in out.schema.fields] == [
            ("doc", "bigint", True), ("cluster", "bigint", True),
        ]
