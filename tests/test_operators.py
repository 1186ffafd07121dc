"""Unit tests pinning quirk semantics from the reference (SURVEY §5.4).

Tiny literal frames; each test pins one behavior worth protecting:
 - diff first-row-keeps-own-value (reference main.py:377)
 - empty-string → null → sentinel ordering (main.py:318 → 332)
 - coerce-unparseable → 0 (main.py:325)
 - split/explode with mixed delimiters (main.py:253-257)
 - melt→regex-split→pivot wide-format roundtrip (main.py:216-222)
 - mask keeps domain, drops original (main.py:537-545)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_gold_diff_first_row_own_value(spark):
    from etl_deltalake_spark.operators.window_agg import gold_aggregation

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 15.0), ("a", 3, 12.0), ("b", 1, 7.0)],
        "grp string, seq int, v double",
    )
    out = gold_aggregation(df, "grp", "v", "v", order_cols=["seq"]).collect()
    rows = {(r.grp, r.seq): r for r in out}
    assert rows[("a", 1)].diff_v == 10.0  # first row: own value, not null
    assert rows[("a", 2)].diff_v == 5.0
    assert rows[("a", 3)].diff_v == -3.0
    assert rows[("b", 1)].diff_v == 7.0
    assert rows[("a", 3)].cumsum_v == 37.0
    assert rows[("b", 1)].cumsum_v == 7.0


def test_clean_frame_empty_to_sentinel_ordering(spark):
    from etl_deltalake_spark.operators.cleaning import clean_frame

    df = spark.createDataFrame(
        [("", "12.3456"), (None, "oops"), ("ok", None)],
        "s string, n string",
    )
    out = clean_frame(df, numeric_coerce=["n"]).collect()
    svals = sorted(r.s for r in out)
    # '' goes through null → sentinel (reference main.py:318→332)
    assert svals == ["Sin Dato", "Sin Dato", "ok"]
    nvals = sorted(r.n for r in out)
    # unparseable 'oops' → null → 0; None → 0; 12.3456 rounds to 3
    assert nvals == [0.0, 0.0, 12.346]


def test_remap_values_unmatched_passthrough(spark):
    from etl_deltalake_spark.operators.cleaning import remap_values

    df = spark.createDataFrame([("UK",), ("Japan",), (None,)], "country string")
    out = remap_values(df, "country", {"UK": "United Kingdom"}).collect()
    vals = {r.country for r in out}
    assert vals == {"United Kingdom", "Japan", None}


def test_split_explode_mixed_delimiters(spark):
    from etl_deltalake_spark.operators.reshape import split_explode

    df = spark.createDataFrame(
        [(1, "US, UK"), (2, "DE;FR"), (3, "JP")], "id int, country string"
    )
    out = split_explode(df, "country").collect()
    got = sorted((r.id, r.country) for r in out)
    assert got == [(1, "UK"), (1, "US"), (2, "DE"), (2, "FR"), (3, "JP")]


def test_wide_melt_pivot_roundtrip(spark):
    """The reference's signature wide→long→wide chain (O3)."""
    from etl_deltalake_spark.operators.reshape import melt, pivot_first, regex_split_key

    wide = spark.createDataFrame(
        [("r1", "binance", "100.5", "okx", "55.1")],
        "`rowid` string, `122.name` string, `122.volume_usd` string, "
        "`95.name` string, `95.volume_usd` string",
    ).drop("rowid")
    long = regex_split_key(melt(wide), "variable")
    out = pivot_first(long, "crypto_id", "variable", "value", ["name", "volume_usd"])
    rows = {r.crypto_id: r for r in out.collect()}
    assert rows["122"].name == "binance" and rows["122"].volume_usd == "100.5"
    assert rows["95"].name == "okx" and rows["95"].volume_usd == "55.1"


def test_mask_email_drops_original(spark):
    from etl_deltalake_spark.operators.pii import add_masked_email, add_synth_email

    df = spark.createDataFrame([("Acme Corp",)], "name string")
    emailed = add_synth_email(df, "name")
    email = emailed.collect()[0].email
    assert email.endswith("@acmecorp.org") and len(email.split("@")[0]) == 8
    masked = add_masked_email(emailed, "email")
    assert "email" not in masked.columns
    assert masked.collect()[0].email_masked == "*****@acmecorp.org"


def test_merge_insert_if_absent(spark, tmp_path):
    """Insert-only MERGE (reference main.py:465-470) on the one storage
    path: a left-anti join on the key, appended as ONE commit."""
    from etl_deltalake_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    src = spark.createDataFrame([(2, "CHANGED"), (3, "c")], "id int, v string")
    v = t.write(src.join(t.read().select("id"), "id", "left_anti"))
    got = {(r.id, r.v) for r in t.read().collect()}
    # id=2 untouched (insert-only merge); id=3 inserted
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    assert v == t.latest_version() == 2


def test_write_rejects_bad_mode(spark, tmp_path):
    from etl_deltalake_spark.sources.versioned import VersionedTable

    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError, match="mode"):
        VersionedTable(spark, str(tmp_path / "x")).write(df, mode="bogus")


def test_partitioned_write_prunes(spark, tmp_path):
    """Partitioned layout exists in the reference (main.py:418) but no
    read ever prunes (SURVEY §4); here the scan must prune."""
    from etl_deltalake_spark.sources.versioned import VersionedTable

    df = spark.createDataFrame(
        [(i, "US" if i % 2 else "DE") for i in range(10)], "id int, country string"
    )
    t = VersionedTable(spark, str(tmp_path / "p"))
    t.write(df, mode="overwrite", partition_by=["country"])
    scan = t.read().filter(F.col("country") == "US")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert scan.count() == 5
    assert "PartitionFilters: [isnotnull(country" in plan


def test_alternating_components_equals_label_propagation(spark, graph_path):
    """The alternating (large-star/small-star) connected components
    must produce exactly label propagation's (doc, cluster=min id)
    output on assorted graph shapes — two independent algorithms,
    one truth — on the driver-local path and on the Spark rounds."""
    from etl_deltalake_spark.operators.dedup import (
        alternating_components,
        label_propagation_clusters,
    )

    cases = [
        [(1, 2), (2, 3), (10, 11)],
        [(0, i) for i in range(1, 8)],  # star
        [(1, 2), (2, 1), (1, 2)],  # duplicate/reversed edges
        [(10**9, 10**9 + 1), (10**9 + 1, 5)],
        [(7, 3)],
    ]
    for pairs in cases:
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        alt = sorted(map(tuple, alternating_components(df).collect()))
        lp = sorted(
            map(
                tuple,
                label_propagation_clusters(df, iterations=None).collect(),
            )
        )
        assert alt == lp, pairs


def test_alternating_components_logarithmic_rounds_on_chains(
    spark, graph_path
):
    """The scale claim: a 200-node chain has diameter 200 — min-label
    propagation needs ~200 rounds (and is provably NOT converged
    after 12), while the alternating algorithm must finish within a
    12-round budget (O(log² n) contraction regardless of diameter)
    and still produce the exact components. The round budget binds on
    the Spark path (``graph_path == "spark"``); the local path must
    give the same rows, and its 12 label-propagation rounds must stay
    as unconverged as the Spark ones."""
    from etl_deltalake_spark.operators.dedup import (
        alternating_components,
        label_propagation_clusters,
    )

    chain = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    alt = alternating_components(df, max_rounds=12)
    rows = sorted(map(tuple, alt.collect()))
    assert rows == [(i, 0) for i in range(201)]
    # the same budget leaves min-label propagation unconverged
    lp = label_propagation_clusters(df, iterations=12)
    labels = {r["doc"]: r["cluster"] for r in lp.collect()}
    assert labels[200] != 0  # node 200 has not heard from node 0 yet
