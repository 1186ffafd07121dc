"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard (SURVEY §2.9 — first-class extensions for training-data
pipelines).

Design for scale:
 - Exact dedup: hash-groupBy on a content fingerprint — one shuffle
   on the hash, never on the raw text.
 - MinHash+LSH: per-doc signatures are computed scan-side with
   array expressions (no UDFs, no shuffle); banding turns the
   quadratic all-pairs problem into an equi-join on (band_idx,
   band_hash) — the only shuffle. Exact Jaccard runs only on
   candidate pairs.
 - All hashing is md5-based so the DuckDB oracle reproduces results
   exactly; signature minima compare md5 hex strings
   lexicographically (identical ordering in both engines).

These operators deliberately avoid ``pyspark.ml.feature.MinHashLSH``:
the ml version is seed-randomized and not oracle-reproducible, and
its vector types force row conversions. Plain column expressions
keep everything in whole-stage codegen.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_deltalake_spark.operators.text import normalize_text


def shingles(col: str, k: int = 3) -> Column:
    """Distinct word k-gram shingles of the normalized text, as a
    single array expression.

    PERFORMANCE CAVEAT: expressions referenced inside a higher-order
    ``transform`` lambda are re-evaluated per array element in
    Spark's interpreted HOF path — here the full normalize+split
    chain runs once per output shingle, O(words²) regex work per
    document. Use ``shingle_rows`` (exploded, codegen'd, measured
    ~25× faster at sf0.1) for anything beyond one-off expressions.
    """
    words = F.split(normalize_text(col), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    return F.array_distinct(grams)


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Distinct word k-gram shingles as (doc, gram) rows — the fast
    path every dedup operator builds on. Zero shuffles: everything
    runs scan-side.

    Two plan-shape rules this encodes (both measured, see SCALE.md):

    1. ``words`` is materialized in its OWN projection and referenced
       twice by the gram expression — CollapseProject declines to
       inline a non-cheap alias used more than once, so the
       normalize+split regex chain evaluates once per document and
       the gram-assembly lambda only touches the bound ``words``
       attribute. Inlining it (as ``shingles()`` does) re-evaluates
       the regexes per output shingle.
    2. The gram array feeds ``explode`` as a raw EXPRESSION, not an
       aliased column: exploding an aliased attribute makes
       InferFiltersFromGenerate add a ``size(grams) > 0`` filter
       whose pushdown re-inlines the whole gram expression into the
       scan — resurrecting the per-element re-evaluation (measured
       12 s vs 0.6 s at sf0.1 for this one planner difference; the
       filter is semantically a no-op here since every document
       yields ≥1 gram).

    Matches ``shingles()`` exactly, including the short-document
    case (one truncated gram when the doc has fewer than k words).
    """
    w = df.select(
        F.col(id_col).alias("doc"),
        F.split(normalize_text(text_col), " ").alias("words"),
    )
    wcol = F.col("words")
    grams_expr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(wcol) - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(wcol, i + 1, k)),
        )
    )
    return w.select("doc", F.explode(grams_expr).alias("gram"))


def minhash_signature(shingle_col: Column, num_perm: int = 16) -> Column:
    """MinHash signature as a single array expression: for seed j,
    min over shingles of md5(j ':' shingle) — hex strings compared
    lexicographically.

    NOTE: correct but slow in hot paths — nested higher-order
    lambdas are interpreted (not codegen'd) and re-evaluate
    ``shingle_col`` once per seed. ``minhash_signature_cols`` is the
    production form (exploded rows + codegen'd md5 + groupBy-min);
    this expression form remains for one-off/composability use.
    """
    seeds = F.sequence(F.lit(0), F.lit(num_perm - 1))
    return F.transform(
        seeds,
        lambda j: F.array_min(
            F.transform(
                shingle_col,
                lambda s: F.md5(F.concat(j.cast("string"), F.lit(":"), s)),
            )
        ),
    )


def minhash_signature_table(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_perm: int = 16
) -> DataFrame:
    """MinHash signatures via the whole-stage-codegen path.

    Shape: shingle arrays are computed ONCE per doc, exploded to
    (doc, shingle) rows, each row gets ``num_perm`` md5 columns
    (plain codegen'd expressions — no higher-order lambdas), and a
    single groupBy(doc) takes per-seed minima (string min =
    lexicographic = array_min of the expression form, so results are
    bit-identical to ``minhash_signature``).

    Scale: the explode multiplies rows by ~n_shingles but keeps them
    narrow; the groupBy reuses the shingle stage's partitioning on
    doc (map-side partial mins, no extra wide shuffle). Output:
    doc, n_sh, h0..h{num_perm-1}.
    """
    sh = shingle_rows(df, id_col, text_col, k)
    hashed = sh.select(
        "doc",
        *[
            F.md5(F.concat_ws(":", F.lit(str(j)), F.col("gram"))).alias(f"h{j}")
            for j in range(num_perm)
        ],
    )
    return hashed.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_sh"),
        *[F.min(f"h{j}").alias(f"h{j}") for j in range(num_perm)],
    )


def lsh_bands(sig_col: Column, bands: int, rows_per_band: int) -> Column:
    """Band hashes: md5 of each band's concatenated signature rows.

    Two docs collide on a band iff that band's signature rows all
    match → P(candidate) ≈ 1-(1-j^r)^b for Jaccard j.
    """
    idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return F.transform(
        idx,
        lambda b: F.md5(
            F.concat_ws("|", F.slice(sig_col, b * rows_per_band + 1, rows_per_band))
        ),
    )


def exact_dedup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct
    normalized text with the surviving (min) id and duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 50,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: shared-shingle candidate
    join with a document-frequency cap, exact set verification.

    Candidate generation equi-joins on individual shingles, but only
    shingles appearing in ≤ ``max_df`` documents participate — the
    cap bounds the join's fan-out to max_df² per shingle, so one
    ubiquitous "stop shingle" (say 1M docs) can no longer produce
    10¹² candidate rows. The cap changes candidate RECALL only (a
    pair found exclusively through ubiquitous shingles is skipped);
    verification is exact: Jaccard is computed from each candidate
    pair's FULL distinct-shingle sets via array intersection, not
    from capped shared counts. ``max_df=None`` disables the cap
    (exhaustive candidates — the pre-round-2 behavior).

    Shuffles: one on shingle (doc-frequency count + candidate join
    reuse the same partitioning), one on doc for the set tables, one
    on the pair. At fixture scale the cap is a no-op (max shingle DF
    is 9), so the oracle mirrors it without changing results.
    """
    sh = shingle_rows(df, id_col, text_col, k).withColumnRenamed("gram", "s")
    capped = sh
    if max_df is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("s")
        )
        capped = sh.join(rare, "s")
    a = capped.select(F.col("doc").alias("doc_a"), "s")
    b = capped.select(F.col("doc").alias("doc_b"), "s")
    candidates = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = (
        sh.groupBy("doc")
        .agg(F.collect_list("s").alias("sh"))
        .localCheckpoint(eager=True)
    )
    sa = sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = candidates.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        joined.select("doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard near-dup pairs with prefix-filtered candidate
    generation (round 9) — the All-Pairs / PPJoin family (Bayardo et
    al., WWW'07; Xiao et al., WWW'08; public algorithms), the
    provably-lossless scale path the DF-capped ``jaccard_pairs``
    approximates: instead of joining on EVERY shingle (fan-out =
    document frequency², capped only by dropping ubiquitous
    shingles), each document joins on its PREFIX — its
    ``n − ⌈t·n⌉ + 1`` rarest shingles under one global
    (document-frequency, shingle) total order.

    Completeness theorem (why no qualifying pair is lost): if
    J(a,b) ≥ t then |a∩b| ≥ t·max(|a|,|b|). Let w be the
    globally-smallest common shingle. A prefix holds a document's
    ORDER-smallest shingles, so if w sat outside a's prefix, every
    common shingle would sit in a's suffix of size ⌈t·|a|⌉ − 1 <
    t·|a| ≤ |a∩b| — contradiction; symmetrically for b. So w lies in
    BOTH prefixes and the candidate equi-join on prefix shingles
    finds the pair. Rare shingles order FIRST, so prefixes join on
    the least-frequent shingles — candidate fan-out collapses
    exactly where ``jaccard_pairs``'s cap had to DROP recall. The
    size filter (t·max ≤ min) prunes further; verification computes
    exact Jaccard on the full sets, so output = brute force
    (the DuckDB oracle IS the exhaustive all-pairs join — the
    theorem is cross-engine-checked, not assumed).

    Prefix length uses exact DECIMAL(9,6) threshold arithmetic so
    ⌈t·n⌉ can never round across an integer boundary in floats.

    Shuffles (round-11 shape, 5.8 s → 3.3 s warm at sf0.1): ONE
    Exchange on the shingle for document frequency (window count —
    replaces the old groupBy+join's three), ONE on the doc for rank
    AND set size (two window functions share the Exchange; both are
    PARTITIONED windows, no global sort), the prefix self-join on
    the shingle, the pair-level aggregate, and the two verification
    joins. Raw text never shuffles.
    """
    sh = shingle_rows(df, id_col, text_col, k).withColumnRenamed("gram", "s")
    t_dec = F.lit(threshold).cast("decimal(9,6)")
    sets = (
        sh.groupBy("doc")
        .agg(F.collect_list("s").alias("sh"))
        .localCheckpoint(eager=True)
    )
    # Document frequency and per-doc size as WINDOW counts (round 11):
    # count over partitionBy(s) replaces the old groupBy(s)+equi-join
    # (three shuffles and a second shingle derivation → one Exchange),
    # and count over partitionBy(doc) rides the rank window's Exchange
    # for free — shingle rows are distinct per doc, so both counts are
    # exact set statistics.
    ranked = (
        sh.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("s"))
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("doc").orderBy("_df", "s")
            ),
        )
        .withColumn(
            "n",
            F.count(F.lit(1)).over(Window.partitionBy("doc")).cast("bigint"),
        )
    )
    pfx = ranked.filter(
        F.col("_rk") <= F.col("n") - F.ceil(t_dec * F.col("n")) + 1
    ).select("doc", "s", "n", "_rk")
    a = pfx.select(
        F.col("doc").alias("doc_a"),
        F.col("n").alias("na"),
        F.col("_rk").alias("ra"),
        "s",
    )
    b = pfx.select(
        F.col("doc").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("_rk").alias("rb"),
        "s",
    )
    # PAIR-LEVEL positional+overlap filter (round 11 — the exact
    # aggregate form of PPJoin's positional filter at the LAST index
    # probe, Xiao et al. WWW'08 §3.2, public): per-doc ranks restrict
    # one GLOBAL (df, shingle) total order, so the pair's common
    # shingles that sit in BOTH prefixes are exactly the first m of
    # its common sequence (rank-in-a and rank-in-b are both
    # increasing along that sequence — "in prefix" is a prefix
    # property). Every further common shingle ranks after the m-th
    # in both docs, hence EXACTLY
    #   |a∩b| ≤ m + min(na − max_ra, nb − max_rb),
    # computed by aggregating the join rows (count, max ranks) —
    # strictly tighter than the per-row bound 1 + min(na−ra, nb−rb)
    # it replaces (equal only when m = 1), at the SAME shuffle count
    # (the groupBy replaces the old distinct, with map-side partial
    # aggregation compressing just as hard). A qualifying pair needs
    # overlap·(1+t) ≥ t·(na+nb); bounds compare by decimal
    # cross-multiplication (no float boundary), and losslessness is
    # re-proved every run by the exhaustive all-pairs oracle.
    pair_stats = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("na", "nb").cast("decimal(20,6)")
            >= t_dec * F.greatest("na", "nb")
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.max("ra").alias("mra"),
            F.max("rb").alias("mrb"),
        )
    )
    ubound = F.col("m") + F.least(
        F.col("na") - F.col("mra"), F.col("nb") - F.col("mrb")
    )
    candidates = pair_stats.filter(
        ubound.cast("decimal(20,6)") * (F.lit(1) + t_dec)
        >= t_dec * (F.col("na") + F.col("nb")).cast("decimal(20,6)")
    ).select("doc_a", "doc_b")
    sa = sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = candidates.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    # exact threshold test by decimal cross-multiplication:
    # c/(na+nb−c) ≥ t  ⟺  c·(1+t) ≥ t·(na+nb) — no float boundary
    keep = joined.filter(
        inter.cast("decimal(20,6)") * (F.lit(1) + t_dec)
        >= t_dec * (F.size("sh_a") + F.size("sh_b")).cast("decimal(20,6)")
    )
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter.cast(
        "double"
    )
    return keep.select(
        "doc_a",
        "doc_b",
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band-collision candidates, then
    exact Jaccard verification on candidates only.

    The scale path: signatures via the codegen'd exploded-row path
    (one groupBy shuffle on the doc id), candidates via an equi-join
    on (band_idx, band_hash), exact verification restricted to
    candidates. Compare with ``jaccard_pairs`` (exact but joins on
    every shingle — quadratic in shingle document frequency).
    """
    rows_per_band = num_perm // bands
    # ONE pass over the exploded shingle rows produces BOTH the
    # signature (per-seed min) and the exact-verify set
    # (collect_list) in the same groupBy — one shuffle on doc and one
    # shingle derivation instead of two of each (measured ~1.7×
    # end-to-end at sf0.1). The result (one row per doc: ~100 B of
    # signature + the doc's shingle set) is localCheckpointed once
    # and feeds the candidate self-join AND the verification join,
    # so Spark never re-derives the shingle pipeline per branch.
    sh = shingle_rows(df, id_col, text_col, k)
    hashed = sh.select(
        "doc",
        "gram",
        *[
            F.md5(F.concat_ws(":", F.lit(str(j)), F.col("gram"))).alias(f"h{j}")
            for j in range(num_perm)
        ],
    )
    sig = (
        hashed.groupBy("doc")
        .agg(
            F.collect_list("gram").alias("sh"),
            *[F.min(f"h{j}").alias(f"h{j}") for j in range(num_perm)],
        )
        .localCheckpoint(eager=True)
    )
    band_arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(
        "doc", F.posexplode(band_arr).alias("band_idx", "band_hash")
    )
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sh_a = sig.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sig.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = candidates.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        joined.select(
            "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


# Edge lists up to this many rows are solved on the driver: one Arrow
# collect, a numpy kernel and a local relation, where each Spark round
# would cost a job. The constant bounds the only driver-side edge
# materialization (cf. ``delta_log._DV_BROADCAST_MAX``).
_LOCAL_GRAPH_MAX_EDGES = 1_000_000


def _small_graph(edges: DataFrame):
    """``edges`` (lazily checkpointed) as an Arrow table, or None above
    the bound; either way the collect materializes the checkpoint."""
    tab = edges.limit(_LOCAL_GRAPH_MAX_EDGES + 1).toArrow()
    return tab if tab.num_rows <= _LOCAL_GRAPH_MAX_EDGES else None


def _local_min_labels(spark, tab, nullable: bool, iterations: int | None):
    """Min-label propagation over the Arrow edge list ``tab`` on the
    driver, returned as a (doc, cluster) local relation. Ids are
    factorized to ranks of their sorted distinct values, so the
    minimum rank is the minimum id for any orderable type. K rounds
    are the synchronous Spark rounds (early exit, no shortcut);
    ``iterations=None`` also pointer-jumps to the exact component
    minima in O(log n) passes. A null id links nothing and keeps the
    Spark rounds' (null, null) row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    a, b = tab.column(0), tab.column(1)
    both = pa.chunked_array(a.chunks + b.chunks, type=a.type)
    ids = pc.unique(both).drop_null()
    ids = ids.take(pc.sort_indices(ids))
    ia, ib = pc.index_in(a, value_set=ids), pc.index_in(b, value_set=ids)
    linked = pc.and_(pc.is_valid(ia), pc.is_valid(ib))
    u = ia.filter(linked).to_numpy().astype(np.int64)
    v = ib.filter(linked).to_numpy().astype(np.int64)
    src, dst = np.concatenate([u, v]), np.concatenate([v, u])
    lab = np.arange(len(ids), dtype=np.int64)
    rounds = itertools.count() if iterations is None else range(iterations)
    for _ in rounds:
        new = lab.copy()
        np.minimum.at(new, src, lab[dst])
        if iterations is None:
            new = new[new]
        if np.array_equal(new, lab):
            break
        lab = new
    docs, clusters = ids, ids.take(pa.array(lab))
    if both.null_count:
        docs = pa.concat_arrays([docs, pa.nulls(1, ids.type)])
        clusters = pa.concat_arrays([clusters, pa.nulls(1, ids.type)])
    schema = pa.schema([
        pa.field("doc", ids.type, nullable),
        pa.field("cluster", ids.type, nullable),
    ])
    return spark.createDataFrame(
        pa.Table.from_arrays([docs, clusters], schema=schema)
    )


def label_propagation_clusters(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    iterations: int | None = 4,
) -> DataFrame:
    """Near-dup clustering: connected components over a pair graph
    via min-label propagation, bounded to ``iterations`` hops — the
    iterative-algorithm building block a dedup pipeline needs to turn
    pairwise matches into groups (keep one doc per cluster).
    ``iterations=None`` runs UNTIL FIXPOINT — exact connected
    components at any diameter.

    label_{i+1}(v) = min(label_i(v), min over neighbors label_i(u));
    after K rounds every node holds the min doc id within K hops —
    exact connected components when K ≥ cluster diameter (near-dup
    clusters are shallow; K=4 default). Deterministic and
    SQL-mirrorable as K chained CTEs, so the oracle can verify it
    (a run that converges early equals the fully-unrolled SQL: once
    no label changes, further rounds are identity).

    Scale: a pair list within ``_LOCAL_GRAPH_MAX_EDGES`` is collected
    once and solved on the driver by the same rounds
    (``_local_min_labels``) — one job, where each Spark round costs
    several. Above it the rounds run in Spark over the pairs that
    collect checkpointed: one join + groupBy on the edge list per
    round, labels checkpointed per round, and rounds after convergence
    skipped (so ``iterations=None`` costs diameter+1 rounds).

    Output: (doc, cluster) — cluster is the propagated min label.
    """
    probe = pairs.select(
        F.col(left_col).alias("src"), F.col(right_col).alias("dst")
    ).localCheckpoint(eager=False)
    ts, td = probe.schema.fields
    # mixed id types widen in the Spark rounds' union
    tab = _small_graph(probe) if ts.dataType == td.dataType else None
    if tab is not None:
        return _local_min_labels(
            pairs.sparkSession, tab, ts.nullable or td.nullable, iterations
        )
    edges = (
        probe.unionByName(
            probe.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # LAZY checkpoint (round 15): round 1's convergence count
        # materializes it — the standalone edge-materialization job
        # barrier folds into the first round.
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("src").alias("doc")).distinct().withColumn(
        "label", F.col("doc")
    )
    rounds = itertools.count() if iterations is None else range(iterations)
    for _ in rounds:
        nbr = (
            edges.join(
                labels.select(
                    F.col("doc").alias("dst"), F.col("label").alias("dst_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr, labels.doc == nbr.src, "left")
            .select(
                labels.doc,
                F.least(
                    labels.label, F.coalesce(nbr.nbr_min, labels.label)
                ).alias("label"),
                (
                    F.coalesce(nbr.nbr_min, labels.label) < labels.label
                ).alias("_changed"),
            )
            # LAZY checkpoint (round 15, guide §2.6): the convergence
            # count below is the round's ONE action — it materializes
            # the checkpoint and counts changed labels in the same
            # job, where eager=True + limit(1).count() paid two jobs
            # (two straggler-exposed barriers) per round.
            .localCheckpoint(eager=False)
        )
        converged = stepped.filter(F.col("_changed")).count() == 0
        labels = stepped.drop("_changed")
        if converged:
            break
    return labels.select("doc", F.col("label").alias("cluster"))


def substring_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplication report: per document, the fraction
    of its words covered by word ``k``-grams that also appear in at
    least ``min_docs`` documents — the span-level tier between exact
    doc dedup and MinHash near-dup (cf. Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", which
    finds cross-doc repeated substrings with suffix arrays; the
    Spark-shaped equivalent buckets positioned grams by hash).

    Output (one row per input document):

      doc            the id
      n_words        normalized token count
      n_dup_spans    number of k-gram start positions whose gram is
                     cross-doc duplicated
      dup_span_frac  |union of duplicated spans| / n_words — the
                     filterable signal (e.g. drop > 0.5, or trim)

    Coverage is an exact interval union computed with one window:
    span at position i covers [i, i+k) clipped to the document, so
    covered_i = least(k, next_start - i, n_words - i) and the per-doc
    sum never double-counts overlaps. SQL-mirrorable (lead + sum).

    Scale shape: grams are md5-hashed scan-side, so every shuffle
    carries (doc, pos, 32-hex) rows — raw text spans never move.
    Unlike ``jaccard_pairs`` there is NO pair join to cap: the
    duplicated-gram set comes from a linear groupBy count and rejoins
    via left_semi, so a ubiquitous gram costs one counter, not df²
    candidates — no max_df knob needed. Shuffles: distinct (doc,gh),
    gh count, semi join on gh, window on doc (the doc groupBy and
    report join reuse that partitioning).

    Short documents (< k words) contribute their single truncated
    gram, same convention as ``shingle_rows``; their coverage clips
    at n_words so fractions never exceed 1.
    """
    w = df.select(
        F.col(id_col).alias("doc"),
        F.split(normalize_text(text_col), " ").alias("words"),
    )
    wcol = F.col("words")
    # md5 per positioned gram, assembled as a raw expression fed
    # straight to posexplode (both shingle_rows planner rules apply:
    # words attribute-bound once; no alias between array and explode)
    grams_expr = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(wcol) - k, F.lit(0))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(wcol, i + 1, k))),
    )
    pg = w.select(
        "doc",
        F.size(wcol).cast("bigint").alias("n_words"),
        F.posexplode(grams_expr).alias("pos", "gh"),
    )
    dup_grams = (
        pg.select("doc", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("gh")
    )
    starts = pg.join(dup_grams, "gh", "left_semi")
    win = Window.partitionBy("doc").orderBy("pos")
    covered_i = F.least(
        F.lit(k),
        F.coalesce(F.lead("pos").over(win), F.col("n_words")) - F.col("pos"),
        F.col("n_words") - F.col("pos"),
    )
    cov = (
        starts.withColumn("_cov", covered_i)
        .groupBy("doc")
        .agg(
            F.sum("_cov").alias("_covered"),
            F.count(F.lit(1)).alias("n_dup_spans"),
        )
    )
    totals = w.select("doc", F.size(wcol).cast("bigint").alias("n_words"))
    return totals.join(cov, "doc", "left").select(
        "doc",
        "n_words",
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).alias("n_dup_spans"),
        F.round(
            F.coalesce(F.col("_covered"), F.lit(0)) / F.col("n_words"), 6
        ).alias("dup_span_frac"),
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """The remediation twin of ``substring_dup_stats``: rebuild each
    document's normalized text with cross-doc duplicated k-gram spans
    REMOVED, keeping exactly one copy corpus-wide (the copy in the
    lowest doc id containing the gram — Lee et al. 2021 remove all
    but one occurrence of each duplicate substring; this is that
    policy with a deterministic canonical choice).

    A word position is dropped iff it is covered by a k-gram that (a)
    occurs in ≥ ``min_docs`` documents and (b) this document is NOT
    the gram's canonical (minimum) holder. Canonical docs keep their
    copy intact, so no text is globally lost.

    Output: (doc, n_words, n_kept, clean_text) — normalized text with
    survivors joined by single spaces ('' when everything dropped).

    Scale shape: all set logic runs on (doc, pos, 32-hex) rows — the
    duplicated-gram table comes from the same linear doc-frequency
    count as the stats op (now also carrying min(doc)); dropped word
    positions come from a bounded k-per-start explode; survivors are
    an anti-join of word rows against dropped positions; rebuild is
    one groupBy(doc) assembling words ordered by position. Raw text
    shuffles only as individual words at the rebuild — never as whole
    documents duplicated per gram.
    """
    w = df.select(
        F.col(id_col).alias("doc"),
        F.split(normalize_text(text_col), " ").alias("words"),
    )
    wcol = F.col("words")
    grams_expr = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(wcol) - k, F.lit(0))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(wcol, i + 1, k))),
    )
    pg = w.select(
        "doc",
        F.size(wcol).cast("bigint").alias("n_words"),
        F.posexplode(grams_expr).alias("pos", "gh"),
    )
    dup_grams = (
        pg.select("doc", "gh")
        .distinct()
        .groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("_df"),
            F.min("doc").alias("canonical_doc"),
        )
        .filter(F.col("_df") >= min_docs)
        .select("gh", "canonical_doc")
    )
    drops = pg.join(dup_grams, "gh").filter(
        F.col("doc") != F.col("canonical_doc")
    )
    dropped_pos = drops.select(
        "doc",
        F.explode(
            F.sequence(
                F.col("pos"),
                F.least(F.col("pos") + k, F.col("n_words")) - 1,
            )
        ).alias("wp"),
    ).distinct()
    word_rows = w.select(
        "doc",
        F.size(wcol).cast("bigint").alias("n_words"),
        F.posexplode(wcol).alias("wp", "word"),
    )
    kept = word_rows.join(dropped_pos, ["doc", "wp"], "left_anti")
    rebuilt = kept.groupBy("doc").agg(
        F.first("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("wp", "word"))),
                lambda s: s["word"],
            ),
        ).alias("clean_text"),
    )
    totals = w.select("doc", F.size(wcol).cast("bigint").alias("n_words"))
    return totals.join(rebuilt.drop("n_words"), "doc", "left").select(
        "doc",
        "n_words",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def simhash_table(df: DataFrame, id_col: str, token_col: Column) -> DataFrame:
    """16-bit SimHash via the codegen path: distinct tokens exploded
    to rows, one 16-bit md5-derived hash per row, per-bit ±1 sums in
    a single groupBy, bits reassembled from the 16 aggregate columns.

    Same output as ``simhash16`` for documents with ≥1 token; zero-
    token documents drop out (no rows to aggregate — matches the
    SQL-oracle GROUP BY shape). One shuffle on the doc id.
    """
    t = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(token_col)).alias("t"),
    )
    h = t.select(
        "doc", F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("int").alias("h")
    )
    g = h.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(16)
        ]
    )
    sim = F.lit(0)
    for i in range(16):
        sim = sim + F.when(F.col(f"b{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return g.select("doc", sim.cast("bigint").alias("simhash"))


def simhash16(token_col: Column) -> Column:
    """16-bit SimHash over a token array.

    Per token: 16-bit hash = first 4 hex chars of md5(token); each
    bit contributes ±1; sign of the per-bit sum sets the output bit.
    Uses distinct tokens with weight 1 (documented simplification).
    Pure array expressions — scan-side, oracle-reproducible.
    Hot-path note: the 16 ``aggregate`` calls each re-evaluate the
    token hashes in the interpreted HOF path — ``simhash_table`` is
    the production form.
    """
    toks = F.array_distinct(token_col)
    th = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int")
    )
    bit_sum = lambda i: F.aggregate(  # noqa: E731
        th,
        F.lit(0),
        lambda acc, h: acc
        + F.when(h.bitwiseAND(F.lit(1 << i)) != 0, F.lit(1)).otherwise(F.lit(-1)),
    )
    out = F.lit(0)
    for i in range(16):
        out = out + F.when(bit_sum(i) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out.cast("bigint")


def hamming_near_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_dist: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """EXACT Hamming-ball pair mining over 64-bit fingerprints
    (round 8): every pair of ids whose hashes differ in at most
    ``max_dist`` bits, WITHOUT the all-pairs product. Pigeonhole
    banding: split the 64 bits into ``bands`` (default
    ``max_dist + 1``) contiguous slices — two hashes within distance
    ``max_dist`` must agree EXACTLY on at least one slice — so
    candidates come from ``bands`` equi-joins on (band_idx,
    band_value) and only candidates pay the exact
    ``bit_count(a XOR b)`` verification (JVM-side, codegen).

    This is the generic scale form behind every 64-bit perceptual
    signal in this repo: image_ahash / image_dhash /
    video_frame_ahash near-dup mining and SimHash text near-dup all
    reduce to it. Same shape as MinHash LSH banding — band equi-join
    shuffles only (band, value) pairs, never payloads — and the
    recall is EXACT (pigeonhole is a theorem, not a probability),
    unlike MinHash's probabilistic bands.

    Output: (doc_a, doc_b, dist) with doc_a < doc_b, deduplicated
    across bands. ``bands`` may exceed ``max_dist + 1`` to trade
    more (smaller) joins for fewer false candidates on skewed hash
    distributions; below ``max_dist + 1`` the pigeonhole guarantee
    breaks, so it raises."""
    nb = bands if bands is not None else max_dist + 1
    if max_dist < 0 or max_dist > 63:
        raise ValueError(f"max_dist must be in [0, 63], got {max_dist}")
    if nb < max_dist + 1:
        raise ValueError(
            f"bands={nb} < max_dist+1={max_dist + 1} breaks the "
            f"pigeonhole guarantee"
        )
    if nb > 64:
        raise ValueError(f"bands={nb} > 64 bits")
    base = df.select(
        F.col(id_col).alias("_doc"),
        F.col(hash_col).cast("bigint").alias("_h"),
    )
    slices = []
    start = 0
    for i in range(nb):
        width = 64 // nb + (1 if i < 64 % nb else 0)
        slices.append((i, start, width))
        start += width
    banded = base.select(
        "_doc",
        "_h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("b"),
                        F.shiftrightunsigned("_h", s)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("v"),
                    )
                    for i, s, w in slices
                ]
            )
        ).alias("band"),
    ).select(
        "_doc", "_h", F.col("band.b").alias("_b"), F.col("band.v").alias("_v")
    )
    right = (
        banded.withColumnRenamed("_doc", "_doc2")
        .withColumnRenamed("_h", "_h2")
    )
    cand = (
        banded.join(right, ["_b", "_v"])
        .filter(F.col("_doc") < F.col("_doc2"))
        .select("_doc", "_doc2", "_h", "_h2")
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.bit_count(F.col("_h").bitwiseXOR(F.col("_h2")))
        )
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("_doc").alias("doc_a"),
            F.col("_doc2").alias("doc_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def incremental_dedup(
    batch: DataFrame,
    seen_fps: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Dedup a NEW batch against the historical fingerprint store —
    the production form of exact dedup: a 100 TB corpus is deduped
    ONCE, and every incremental crawl batch checks only itself and
    the compact store of already-seen fingerprints (32-char md5 per
    historical doc, not the documents).

    ``seen_fps`` is a one-column ``fp`` DataFrame (e.g. the stored
    output of previous rounds). Returns the batch rows that survive
    — first occurrence (min id) per fingerprint within the batch,
    and no fingerprint already in the store — with the ``fp`` column
    attached so the caller appends exactly these rows' fingerprints
    back to the store for the next round.

    Scale: batch-side fingerprints shuffle once for the in-batch
    min-id reduction; the store probe is a key join on 32-char
    strings (broadcast when the store fits, shuffle otherwise —
    Spark picks by stats). Raw text never shuffles (the
    exact_dedup_stats contract).
    """
    fp = batch.select(
        F.col(id_col), F.md5(normalize_text(text_col)).alias("fp")
    )
    w = Window.partitionBy("fp").orderBy(F.col(id_col))
    firsts = (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    fresh = firsts.join(
        seen_fps.select("fp").distinct(), "fp", "left_anti"
    )
    return fresh.join(batch, id_col).select(id_col, "fp", *
        [c for c in batch.columns if c != id_col]
    )


def minhash_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The PERSISTABLE near-dup state (round 5): one row per
    (doc, band) carrying the band hash AND the full MinHash signature
    — everything the incremental tier needs to dedup future batches
    against this corpus without ever touching its text again.

    Store size per doc: ``bands`` rows × (32-char band hash +
    ``num_perm``×32-char signature) ≈ 2 KB at the defaults — five
    orders of magnitude under the documents it summarizes at 100 TB.
    The signature is denormalized onto each band row so the band
    equi-join probe needs no second join to fetch it; at extreme
    scale normalize into (doc, sig) + (doc, band) tables.

    Output: doc, sig array<string>, band_idx, band_hash.
    """
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}): "
            "LSH banding slices the signature into equal rows-per-band "
            "groups; a remainder would silently drop trailing MinHash "
            "components from every band hash while the stored full "
            "signature still carries them"
        )
    rows_per_band = num_perm // bands
    sig_tab = minhash_signature_table(df, id_col, text_col, k, num_perm)
    band_arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    return sig_tab.select(
        "doc",
        F.array(*[F.col(f"h{j}") for j in range(num_perm)]).alias("sig"),
        F.posexplode(band_arr).alias("band_idx", "band_hash"),
    ).withColumn("band_idx", F.col("band_idx").cast("bigint"))


def _est_jaccard(a: Column, b: Column, num_perm: int) -> Column:
    """Signature-estimated Jaccard: fraction of equal MinHash
    components — the estimator whose expectation IS the Jaccard
    similarity (Broder 1997). Used when only signatures exist (the
    incremental store keeps no shingle sets)."""
    eq = F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    return F.round(F.size(eq) / float(num_perm), 6)


def incremental_neardup(
    batch: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup-dedup a NEW batch against a persisted MinHash store
    (round 5, VERDICT r4 Next #6) — the MinHash extension of
    ``incremental_dedup``: real pipelines ingest incrementally, and
    re-shingling the historical corpus per batch is a 100 TB
    non-starter. History participates ONLY through its store rows
    (band hashes + signatures, ``minhash_store``); its text is never
    read, its bands never recomputed (the executed plan contains
    exactly one text-bearing scan — asserted in tests).

    Per batch doc:
      hist_dup  — some history doc shares an LSH band AND the
                  signature-estimated Jaccard (``_est_jaccard``; the
                  store has no shingle sets) clears ``threshold``;
      cluster   — min-label over the WITHIN-batch near-dup graph
                  (band-collision candidates, estimated-Jaccard
                  verify, ``label_propagation_clusters``);
      kept      — not hist_dup AND doc == cluster (the canonical
                  copy of its in-batch cluster). A cluster whose
                  canonical member is itself a history dup dies with
                  it: its content is already represented in history.

    Shuffles: batch signatures aggregate once on doc into the
    checkpointed ``bs``. ``bs ⋈ bs`` on the band key gives the in-batch
    pairs for ``label_propagation_clusters``; ``bs ⋈ store`` gives the
    history hits, lazily, over ``store`` as passed — a store from
    ``write_minhash_store_bucketed`` joins without an Exchange. Output:
    doc, hist_dup, cluster, kept — one row per batch doc, so the
    caller appends ``minhash_store`` rows of kept docs to the store.
    """
    bs = minhash_store(
        batch, id_col, text_col, k, num_perm, bands
    ).localCheckpoint(eager=True)

    def verified(other: DataFrame, extra: Column = F.lit(True)) -> DataFrame:
        on = (
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & extra
        )
        return bs.alias("a").join(other.alias("b"), on).filter(
            _est_jaccard(F.col("a.sig"), F.col("b.sig"), num_perm)
            >= threshold
        )

    hist_hits = (
        verified(store)
        .select(F.col("a.doc").alias("doc"))
        .distinct()
        .withColumn("_h", F.lit(True))
    )
    pairs = (
        verified(bs, F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    clusters = label_propagation_clusters(pairs)
    labeled = (
        bs.select("doc")
        .distinct()
        .join(clusters, "doc", "left")
        .select("doc", F.coalesce("cluster", F.col("doc")).alias("cluster"))
    )
    return labeled.join(hist_hits, "doc", "left").select(
        "doc",
        F.coalesce("_h", F.lit(False)).alias("hist_dup"),
        "cluster",
        (
            (~F.coalesce("_h", F.lit(False)))
            & (F.col("doc") == F.col("cluster"))
        ).alias("kept"),
    )


def write_minhash_store_bucketed(
    store_rows: DataFrame,
    table_name: str,
    path: str,
    num_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Persist the near-dup store BUCKETED on the probe's exact join
    key ``(band_idx, band_hash)`` (round 5, key set corrected round
    6): at scale the store is the big side of every incremental
    probe — pre-bucketing it means each probe shuffles ONLY the new
    batch's band rows to matching buckets while the store reads
    co-located (the probe plan shows no Exchange above the store
    scan; asserted as a TREE property in tests, not a substring).

    The bucket keys must equal the join keys: Spark (3.3+,
    ``spark.sql.requireAllClusterKeysForCoPartition`` default true)
    does not treat a partial-key bucketing (band_hash alone) as
    co-partitioned for a two-key join, so the round-5 single-key
    spec still shuffled the store — the executed-plan tree walk in
    tests/test_new_ops_r5.py caught it. The standard bucketed-fact
    amortization: one shuffle at store-write time paid once, saved
    on every future batch.

    ``mode="append"`` (round 8) is the GROWTH path: each accepted
    batch's band rows append new bucketed files into the existing
    table (saveAsTable verifies the bucket spec matches, so an
    append can't silently degrade the layout), and every later probe
    still reads the grown store co-located — the amortization claim
    is about repeated probes against a store that keeps growing."""
    (
        store_rows.write.mode(mode)
        .option("path", path)
        .bucketBy(num_buckets, "band_idx", "band_hash")
        .saveAsTable(table_name)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 50,
) -> DataFrame:
    """ASYMMETRIC n-gram containment pairs (round 5): |A∩B| / |A| —
    the subset/boilerplate signal Jaccard misses. A short document
    wholly embedded in a long one has low Jaccard (the union is
    large) but containment ≈ 1 on the short side; real pipelines use
    exactly this to catch quotes, mirrors-with-navigation, and
    template wrapping that symmetric near-dup scoring waves through.

    Same candidate machinery as ``jaccard_pairs`` (DF-capped shared-
    shingle equi-join, exact verification on full distinct-shingle
    sets); a pair survives when EITHER direction clears ``threshold``.
    Output: doc_a, doc_b, cont_a_in_b, cont_b_in_a (rounded 6).
    """
    sh = shingle_rows(df, id_col, text_col, k).withColumnRenamed("gram", "s")
    capped = sh
    if max_df is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("s")
        )
        capped = sh.join(rare, "s")
    a = capped.select(F.col("doc").alias("doc_a"), "s")
    b = capped.select(F.col("doc").alias("doc_b"), "s")
    candidates = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = (
        sh.groupBy("doc")
        .agg(F.collect_list("s").alias("sh"))
        .localCheckpoint(eager=True)
    )
    sa = sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = candidates.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    c_ab = F.round(inter / F.size("sh_a"), 6)
    c_ba = F.round(inter / F.size("sh_b"), 6)
    return (
        joined.select(
            "doc_a",
            "doc_b",
            c_ab.alias("cont_a_in_b"),
            c_ba.alias("cont_b_in_a"),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
    )


def alternating_components(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components via the ALTERNATING algorithm (round 10;
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public): the 100 TB-scale alternative to
    ``label_propagation_clusters``. Min-label propagation needs
    O(diameter) rounds — a chain-shaped duplicate graph (doc A ≈ B ≈
    C ≈ …, each adjacent pair near-dup but the ends unrelated) costs
    one full edge-join per hop. Large-star/small-star rounds contract
    components in O(log² n) (practically ~log n) rounds REGARDLESS of
    diameter:

    - large-star: every node u links each LARGER neighbor to
      m(u) = min(Γ(u) ∪ {u});
    - small-star: every node u links each smaller-or-equal neighbor
      and itself to the minimum among them.

    Both steps preserve connectivity and only ever decrease the
    (node, parent) order, so the edge set converges to a star forest
    whose centers are the component minima — the same (doc, cluster =
    min id) contract label propagation produces, verified equivalent
    by test (and by hypothesis over random graphs).

    Ids cast to long and self-loops drop first. A pair list within
    ``_LOCAL_GRAPH_MAX_EDGES`` is then solved on the driver from one
    collect (``_local_min_labels`` to fixpoint: the exact component
    minima) — the rounds below would cost ~2 jobs each. Above the
    bound each round is two join+groupBy passes over the current edge
    set with a checkpoint to truncate lineage; the convergence test
    (edge-set equality) is one anti-join over the checkpointed edges.

    Returns nullable long (doc, cluster) on both paths, whatever the
    ids' nullability. ``max_rounds`` is a safety rail, not a
    tuning knob — convergence raises past it (Spark rounds only).
    """
    probe = (
        pairs.select(
            F.col(left_col).cast("long").alias("u"),
            F.col(right_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=False)
    )
    tab = _small_graph(probe)
    if tab is not None:
        # nullable, as the Spark rounds' min and explode make it
        return _local_min_labels(pairs.sparkSession, tab, True, None)
    edges = (
        probe.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        # LAZY checkpoint + one count (round 15): materialization and
        # the convergence-witness seed share a single job. Never
        # empty: the collect above found more pairs than the bound.
        .localCheckpoint(eager=False)
    )
    prev_count = edges.count()
    for _ in range(max_rounds):
        # ---- large-star: group the full neighborhood at every node
        adj = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = adj.groupBy("u").agg(F.min("v").alias("_mv")).select(
            "u", F.least(F.col("u"), F.col("_mv")).alias("m")
        )
        large = (
            adj.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # ---- small-star: group the ≤-neighbors at the larger node
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(
                F.col("v"), F.col("m"), F.col("u")
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("u").alias("a"), F.col("m").alias("b")
                        ),
                        F.struct(
                            F.col("v").alias("a"), F.col("m").alias("b")
                        ),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # LAZY checkpoint (round 15): the witness count below
            # materializes it — one job per round, not two.
            .localCheckpoint(eager=False)
        )
        # converged when the (canonical) edge set is unchanged. The
        # exact equality test (two exceptAll shuffles) only runs when
        # the cheap witness — edge COUNT over the checkpointed set —
        # fails to prove inequality; on long contractions most rounds
        # change the count, so most rounds pay one count job and zero
        # extra shuffles.
        n = small.count()
        if n == prev_count:
            changed = (
                small.exceptAll(edges).limit(1).count()
                + edges.exceptAll(small).limit(1).count()
            )
            if changed == 0:
                edges = small
                break
        prev_count = n
        edges = small
    else:
        raise RuntimeError(
            f"alternating components did not converge in {max_rounds} "
            "rounds"
        )
    # star forest: every node points at its component min; centers
    # map to themselves
    members = edges.select(
        F.col("u").alias("doc"), F.col("v").alias("cluster")
    )
    roots = edges.select(F.col("v").alias("doc")).distinct().withColumn(
        "cluster", F.col("doc")
    )
    return members.unionByName(roots)
