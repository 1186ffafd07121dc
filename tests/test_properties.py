"""Property-based tests (hypothesis): each checks an operator against
an independent brute-force model on small generated inputs, probing
edge shapes example-based tests miss (empty groups, ties, chains,
single-element arrays).

The reference has no tests at all (SURVEY §5); this file extends the
oracle strategy with randomized models. Example counts are kept small
— every example is a real Spark job — the value is in the adversarial
shapes, not the volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.too_slow],
    print_blob=True,
)

keys = st.integers(min_value=0, max_value=3)
times = st.integers(min_value=0, max_value=30)


@settings(**SETTINGS)
@given(
    left=st.lists(st.tuples(keys, times), min_size=1, max_size=20),
    right=st.dictionaries(
        st.tuples(keys, times), st.integers(0, 99), min_size=0, max_size=20
    ),
)
def test_asof_join_matches_bruteforce(spark, left, right):
    """asof_join == per-row 'latest right with rt <= lt per key'.
    Right side is unique on (key, time) so the tie rule is moot."""
    from etl_deltalake_spark.operators.relational import asof_join

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "row_id int, k int, t int"
    )
    rrows = [(k, t, v) for (k, t), v in right.items()]
    rdf = spark.createDataFrame(rrows or [(None, None, None)], "k int, rt int, payload int")
    if not rrows:
        rdf = rdf.filter(F.lit(False))
    got = {
        r["row_id"]: r["payload"]
        for r in asof_join(ldf, rdf, "k", "t", "rt", ["payload"]).collect()
    }
    for i, (k, t) in enumerate(left):
        candidates = [(rt, v) for (rk, rt), v in right.items() if rk == k and rt <= t]
        want = max(candidates)[1] if candidates else None
        assert got[i] == want, (i, k, t, candidates)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 9),
            st.text("ab", min_size=0, max_size=3),
            st.text("xy", min_size=0, max_size=3),
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda r: r[0],
    )
)
def test_melt_pivot_roundtrip(spark, rows):
    """wide → melt → pivot_first → the original wide frame (unique
    ids ⇒ F.first is deterministic)."""
    from etl_deltalake_spark.operators.reshape import melt, pivot_first

    wide = spark.createDataFrame(rows, "id int, v0 string, v1 string")
    long = melt(wide, id_vars=["id"], value_vars=["v0", "v1"])
    back = pivot_first(long, "id", "variable", "value", pivot_values=["v0", "v1"])
    want = sorted(rows)
    got = sorted(map(tuple, back.select("id", "v0", "v1").collect()))
    assert got == want


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=15,
    ).filter(lambda es: any(a != b for a, b in es))
)
def test_label_propagation_is_connected_components(spark, edges):
    """Min-label propagation (iterations ≥ node count) == union-find
    connected components with min-id labels."""
    from etl_deltalake_spark.operators.dedup import label_propagation_clusters

    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")
    got = {
        r["doc"]: r["cluster"]
        for r in label_propagation_clusters(pairs, iterations=8).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    members: dict[int, list[int]] = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    want = {n: min(ms) for ms in members.values() for n in ms}
    assert got == want


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-(2**40), 2**40)),
        min_size=1,
        max_size=25,
    ),
    salt_n=st.integers(1, 5),
)
def test_salted_agg_sum_equals_plain(spark, rows, salt_n):
    """Two-stage salted aggregation is exactly the one-stage sum for
    order-insensitive (integer) sums, any salt width."""
    from etl_deltalake_spark.operators.partitioning import salted_agg_sum

    df = spark.createDataFrame(rows, "k int, v long")
    got = {
        r["k"]: (r["total"], r["n"])
        for r in salted_agg_sum(df, ["k"], F.col("v"), "total", salt_n=salt_n).collect()
    }
    want: dict[int, list[int]] = {}
    for k, v in rows:
        acc = want.setdefault(k, [0, 0])
        acc[0] += v
        acc[1] += 1
    assert got == {k: (s, n) for k, (s, n) in want.items()}


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 50)),
        min_size=1,
        max_size=15,
        unique_by=lambda r: r[0],
    ),
    budget=st.integers(1, 17),
    n_shards=st.integers(1, 4),
)
def test_pack_sequences_matches_bruteforce(spark, rows, budget, n_shards):
    """pack_sequences == a Python concat-and-chunk model: per shard,
    docs laid end-to-end in id order and sliced into budget-token
    bins."""
    from etl_deltalake_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {
        (r["doc"], r["bin"]): (
            r["shard"], r["tokens_in_bin"], r["n_tokens"], r["start_off"]
        )
        for r in pack_sequences(
            df, "doc_id", F.col("n"), budget=budget, n_shards=n_shards
        ).collect()
    }
    want = {}
    shards: dict[int, int] = {}
    for doc, n in sorted(rows):
        if n == 0:
            continue
        shard = doc % n_shards
        start = shards.get(shard, 0)
        shards[shard] = start + n
        for b in range(start // budget, (start + n - 1) // budget + 1):
            lo, hi = max(start, b * budget), min(start + n, (b + 1) * budget)
            want[(doc, b)] = (shard, hi - lo, n, start)
    assert got == want


@settings(deadline=None, max_examples=6, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "omega"]),
            min_size=1,
            max_size=6,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_minhash_pairs_subset_of_exact_and_complete_on_identicals(spark, texts):
    """LSH near-dup pairs ⊆ exact Jaccard pairs with equal values
    (verification is exact ⇒ precision 1.0), and every pair of
    IDENTICAL texts must be found (equal signatures collide in every
    band ⇒ recall 1.0 at jaccard=1)."""
    from etl_deltalake_spark.operators.dedup import (
        jaccard_pairs,
        minhash_near_dup_pairs,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(
            df, "doc_id", "text", k=2, threshold=0.5
        ).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, "doc_id", "text", k=2, threshold=0.5, max_df=None
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, j in lsh.items():
        assert j == exact[pair]
    for i, a in enumerate(texts):
        for j2 in range(i + 1, len(texts)):
            if texts[j2] == a:
                assert (i, j2) in lsh, (i, j2, a)


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=5,
    ),
    chunk=st.integers(min_value=1, max_value=6),
    overlap_frac=st.floats(min_value=0.0, max_value=0.99),
)
def test_chunk_documents_matches_bruteforce(spark, docs, chunk, overlap_frac):
    """chunk_documents == the sliding-window model: starts at
    0, stride, 2*stride, ...; each window is words[s : s+chunk];
    ceil(max(n - overlap, 1) / stride) windows."""
    import math

    from etl_deltalake_spark.operators.packing import chunk_documents

    overlap = min(int(chunk * overlap_frac), chunk - 1)
    stride = chunk - overlap
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id int, text string"
    )
    got = {
        (r["doc"], r["chunk_idx"]): (r["chunk_start"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(
            df, "doc_id", "text", chunk_tokens=chunk, overlap=overlap
        ).collect()
    }
    for i, ws in enumerate(docs):
        # normalize_text of "" splits to [""] — one empty token
        words = ws if ws else [""]
        n = len(words)
        n_chunks = math.ceil(max(n - overlap, 1) / stride)
        for c in range(n_chunks):
            s = c * stride
            piece = words[s : s + chunk]
            assert got[(i, c)] == (s, len(piece), " ".join(piece)), (
                i, c, words, chunk, overlap,
            )
        assert (i, n_chunks) not in got


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    quota=st.integers(min_value=1, max_value=5),
)
def test_quota_sample_matches_bruteforce(spark, rows, quota):
    """quota_sample == per-group head(quota) of rows sorted by
    (md5(str(id)), id)."""
    import hashlib

    from etl_deltalake_spark.operators.curation import quota_sample

    df = spark.createDataFrame(rows, "id bigint, grp string")
    got = sorted(
        r["id"] for r in quota_sample(df, "grp", "id", quota).collect()
    )
    want = []
    for g in {g for _, g in rows}:
        members = sorted(
            (i for i, gg in rows if gg == g),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )
        want.extend(members[:quota])
    assert got == sorted(want)


@settings(**SETTINGS)
@given(
    left=st.lists(st.tuples(keys, times), min_size=1, max_size=15),
    right=st.dictionaries(
        st.tuples(keys, times), st.integers(0, 99), min_size=0, max_size=15
    ),
)
def test_asof_forward_matches_bruteforce(spark, left, right):
    """direction='forward' == per-row 'earliest right with rt >= lt
    per key' (the mirror of the backward property above)."""
    from etl_deltalake_spark.operators.relational import asof_join

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "row_id int, k int, t int"
    )
    rrows = [(k, t, v) for (k, t), v in right.items()]
    rdf = spark.createDataFrame(
        rrows or [(None, None, None)], "k int, rt int, payload int"
    )
    if not rrows:
        rdf = rdf.filter(F.lit(False))
    got = {
        r["row_id"]: r["payload"]
        for r in asof_join(
            ldf, rdf, "k", "t", "rt", ["payload"], direction="forward"
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        candidates = [
            (rt, v) for (rk, rt), v in right.items() if rk == k and rt >= t
        ]
        want = min(candidates)[1] if candidates else None
        assert got[i] == want, (i, k, t, candidates)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            keys,
            st.integers(min_value=0, max_value=7200),
            st.integers(min_value=-500, max_value=500),
        ),
        min_size=1,
        max_size=25,
    ),
    win=st.sampled_from([60, 600, 3600]),
)
def test_rolling_stats_matches_bruteforce(spark, rows, win):
    """rolling_stats frame membership, count, and mean match a
    brute-force trailing-window model (values quantized at 2
    decimals like the operator)."""
    import datetime
    import math

    from etl_deltalake_spark.operators.timeseries import rolling_stats

    def ts(s):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)

    data = [(k, ts(s), v / 4.0) for k, s, v in rows]
    df = spark.createDataFrame(data, ["k", "ts", "v"])
    out = rolling_stats(df, "k", "ts", "v", window_secs=win).collect()
    # brute force over quantized cents
    model = {}
    for k, s, v in rows:
        q = round(v / 4.0 * 100) / 100.0
        model.setdefault(k, []).append((s, q))
    # rows with duplicate (k, ts, value) are indistinguishable; compare
    # per-row against the model computed from its (k, sec)
    for r in out:
        k = r["key"]
        sec = int((r["ts"] - datetime.datetime(2024, 1, 1)).total_seconds())
        frame = [q for s, q in model[k] if sec - win <= s <= sec]
        assert r["n_win"] == len(frame), (k, sec, frame)
        want_mean = round(sum(frame) / len(frame), 6)
        assert math.isclose(r["mean_win"], want_mean, abs_tol=1e-6), (
            k, sec, frame, r["mean_win"],
        )


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["spark", "merge", "scan", "row", "batch"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_bm25_matches_bruteforce(spark, docs):
    """BM25 scores match a pure-Python reference computed with the
    same formula (k1=1.2, b=0.75, rounded partials)."""
    import math

    from etl_deltalake_spark.operators.search import bm25_scores

    query = ("spark", "merge")
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc"]: r["score"] for r in
           bm25_scores(df, "doc_id", "text", query).collect()}

    n = len(docs)
    avgdl = sum(len(w) for w in docs) / n
    dfreq = {t: sum(1 for w in docs if t in w) for t in query}
    for i, words in enumerate(docs):
        dl = len(words)
        score = 0.0
        for t in query:
            tf = words.count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            score += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        if score > 0:
            assert math.isclose(got[i], score, abs_tol=1e-4), (i, words)
        else:
            assert i not in got


def test_jaccard_prefix_equals_exhaustive(spark, sf_dir):
    """The prefix-filtered exact join must return EXACTLY the
    exhaustive jaccard_pairs set (max_df=None — no cap): the
    completeness theorem checked in-Spark, independent of the DuckDB
    oracle's confirmation of the same identity."""
    from etl_deltalake_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_prefix_pairs,
    )
    from etl_deltalake_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    exhaustive = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5, max_df=None
        ).collect()
    }
    prefix = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_prefix_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5
        ).collect()
    }
    assert prefix == exhaustive
    assert prefix, "fixture must contain qualifying near-dup pairs"


def test_jaccard_prefix_edge_cases(spark):
    """Prefix-join edges the fixture can't hit: identical docs
    (J=1.0 survives any threshold), disjoint docs (no pair), docs
    shorter than the shingle size (single truncated gram), and a
    threshold so high only exact copies qualify."""
    from etl_deltalake_spark.operators.dedup import jaccard_prefix_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),  # exact dup of 1
        (3, "zeta eta theta iota kappa"),  # disjoint
        (4, "mu nu"),  # shorter than k → one truncated gram
        (5, "mu nu"),  # dup of the short doc
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_prefix_pairs(
            df, "doc_id", "text", k=3, threshold=0.99
        ).collect()
    }
    assert pairs == {(1, 2): 1.0, (4, 5): 1.0}
    # threshold low enough to catch partial overlap still finds the
    # exact dups and nothing across disjoint vocabularies
    loose = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_prefix_pairs(
            df, "doc_id", "text", k=3, threshold=0.3
        ).collect()
    }
    assert (1, 2) in loose and (4, 5) in loose
    assert not any(3 in p for p in loose)


# ---- round 10: codec properties (no Spark job per example — these
# ---- run pure-Python, so the example counts can be much larger)

@settings(deadline=None, max_examples=60, print_blob=True)
@given(
    ncolors=st.sampled_from([2, 3, 4, 7, 16, 64, 200, 256]),
    data=st.binary(min_size=0, max_size=4000),
)
def test_gif_lzw_roundtrip_property(ncolors, data):
    """LZW(encode) ∘ decode == identity for ANY index stream over ANY
    alphabet size — including empty streams, single symbols, runs
    (the KwKwK shapes), and alphabets that are not powers of two."""
    from etl_deltalake_spark.operators.gif import _lzw_decode, _lzw_encode

    idx = bytes(b % ncolors for b in data)
    mcs = max((ncolors - 1).bit_length(), 2)
    assert _lzw_decode(mcs, _lzw_encode(mcs, idx), len(idx)) == idx


@settings(deadline=None, max_examples=25, print_blob=True)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 20),
    seed=st.integers(0, 2**31),
    interlace=st.booleans(),
)
def test_gif_still_roundtrip_property(w, h, seed, interlace):
    """encode_gif ∘ decode_gif reproduces exact palette pixels for
    arbitrary dimensions (including 1-pixel edges where interlace
    passes are empty) and both interlace settings."""
    import random as _r

    from etl_deltalake_spark.operators.gif import decode_gif, encode_gif

    rng = _r.Random(seed)
    pal = [(10, 20, 30), (200, 100, 0), (0, 255, 128), (255, 255, 255)]
    idx = bytes(rng.randrange(4) for _ in range(w * h))
    img = decode_gif(encode_gif(idx, w, h, pal, interlace=interlace))
    assert (img.width, img.height) == (w, h)
    assert img.pixels == b"".join(bytes(pal[i]) for i in idx)


@settings(deadline=None, max_examples=12, print_blob=True)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 18),
    seed=st.integers(0, 2**31),
)
def test_progressive_jpeg_equals_baseline_property(w, h, seed):
    """For ANY dimensions (odd, 1-pixel, non-multiple-of-8) and any
    content, the progressive encoding decodes pixel-identical to the
    baseline encoding — the full-script coefficient-equivalence
    theorem, probed beyond the example-based sizes."""
    import random as _r

    from etl_deltalake_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = _r.Random(seed)
    px = bytes(rng.randrange(256) for _ in range(w * h))
    base = decode_jpeg(encode_jpeg(px, w, h, 1))
    prog = decode_jpeg(encode_jpeg_progressive(px, w, h, 1))
    assert prog.pixels == base.pixels


@settings(
    **{
        **SETTINGS,
        "suppress_health_check": [
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    }
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=30,
    )
)
def test_alternating_components_matches_bruteforce(spark, graph_path, edges):
    """Alternating large-star/small-star == brute-force connected
    components (union-find model) on arbitrary small graphs,
    including self-loops (dropped) and duplicate/reversed edges, on
    both the driver-local path and the Spark rounds (``graph_path``
    patches one module constant, the same for every example)."""
    from etl_deltalake_spark.operators.dedup import alternating_components

    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = sorted((n, find(n)) for n in parent)
    df = spark.createDataFrame(real, "doc_a long, doc_b long")
    got = sorted(map(tuple, alternating_components(df).collect()))
    assert got == expect
