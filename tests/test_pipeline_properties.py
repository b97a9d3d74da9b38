"""Property tests for the pipeline extensions against pure-Python
references: connected-components clustering vs union-find, KMV sketch
exactness/accuracy, quantization reconstruction bounds, and hash
split/sample partition laws."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tsp_spark.pipeline.curation import quantize_embeddings, split_assign
from tsp_spark.pipeline.dedup import neardup_clusters
from tsp_spark.pipeline.sketches import kmv_distinct

edge_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ).map(lambda p: (min(p), max(p))).filter(lambda p: p[0] < p[1]),
    min_size=0,
    max_size=40,
    unique=True,
)


def _union_find_clusters(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    comp = {}
    for i in range(n_nodes):
        r = find(i)
        comp.setdefault(r, []).append(i)
    out = {}
    for members in comp.values():
        m = min(members)
        for i in members:
            out[i] = m
    return out


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edge_strategy)
def test_clusters_match_union_find(spark, edges):
    n = 31
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
    )
    if not edges:
        pairs = pairs.where("id_a < id_b")  # empty edge set
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in neardup_clusters(docs, pairs, "doc_id").collect()
    }
    want = _union_find_clusters(n, edges)
    assert got == want


def test_kmv_exact_below_k_and_close_above(spark):
    # group "small": 40 distinct values < k=64 → exact
    # group "big": 5000 distinct values → within 3 standard errors
    rows = [("small", i) for i in range(40)] * 2 + [
        ("big", i) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r["g"]: (r["n_kept"], r["est_distinct"])
        for r in kmv_distinct(df, "v", ["g"], k=64).collect()
    }
    assert out["small"] == (40, 40.0)
    n_kept, est = out["big"]
    assert n_kept == 64
    rel_err = abs(est - 5000) / 5000
    assert rel_err < 3 / (62 ** 0.5), f"estimate {est} off by {rel_err:.2%}"


def test_quantize_reconstruction_bound(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(0, 5, size=16)]) for i in range(50)
    ] + [(99, [0.0] * 16)]  # zero vector: scale guard
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    for i, vec in rows:
        scale, err = out[i]["scale"], out[i]["l2_err"]
        # per-dim error ≤ scale/2 ⇒ L2 ≤ dims·(scale/2)²
        assert err <= 16 * (scale / 2) ** 2 + 1e-9
    assert out[99]["l2_err"] == 0.0 and out[99]["q_checksum"] == 0


def test_split_assign_partition_laws(spark):
    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # total preserved, all three present, roughly proportioned
    assert sum(counts.values()) == 2000
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 <= counts["train"] / 2000 <= 0.85
    # deterministic: a re-run assigns identically
    again = split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert out.exceptAll(again).count() == 0


def test_clusters_deep_path_graph(spark):
    """Large-star/small-star reaches the fixpoint on a 200-node path in
    O(log n) rounds — plain min-label propagation would need ~200 rounds
    and max_iter=12 would silently truncate it. Also asserts the
    non-convergence warning stays silent on the healthy path.

    ``local_finish_edges=0`` forces the distributed star rounds — with
    the default 2M gate every small test would take the numpy
    union-find shortcut and leave the star loop + its convergence
    probe with zero coverage (review-caught)."""
    import warnings as w

    n = 200
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with w.catch_warnings():
        w.simplefilter("error", RuntimeWarning)
        got = neardup_clusters(
            docs, pairs, "doc_id", max_iter=12, local_finish_edges=0
        ).collect()
    assert all(r["cluster_id"] == 0 for r in got)
    reps = [r["doc_id"] for r in got if r["is_representative"]]
    assert reps == [0]


def test_clusters_string_ids(spark):
    """r6d (review-caught): non-integer doc ids (UUID-ish strings) must
    work — the numpy union-find finish packs int64, so string-id edge
    sets skip it and run the star rounds to the fixpoint."""
    docs = spark.createDataFrame(
        [(f"doc-{i:03d}",) for i in range(12)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [(f"doc-{i:03d}", f"doc-{i + 1:03d}") for i in range(5)]
        + [("doc-008", "doc-009")],
        "id_a string, id_b string",
    )
    got = {
        r["doc_id"]: (r["cluster_id"], bool(r["is_representative"]))
        for r in neardup_clusters(docs, pairs, "doc_id").collect()
    }
    assert got["doc-000"] == ("doc-000", True)
    assert got["doc-005"] == ("doc-000", False)
    assert got["doc-009"] == ("doc-008", False)
    assert got["doc-011"] == ("doc-011", True)


def test_jaccard_bucket_guard_fails_fast(spark):
    """An oversized bucket must fail the job with a pointer to the LSH
    path instead of silently going quadratic (dedup.py contract)."""
    from tsp_spark.pipeline.dedup import jaccard_pairs

    rows = [(i, "b", f"tok{i} common words here") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    with pytest.raises(Exception, match="minhash_lsh_pairs"):
        jaccard_pairs(
            df, "text", "doc_id", ["src"], max_bucket_size=3
        ).count()
    # within the limit (or with the guard off) results are unchanged
    ok = jaccard_pairs(df, "text", "doc_id", ["src"], max_bucket_size=8)
    off = jaccard_pairs(df, "text", "doc_id", ["src"], max_bucket_size=None)
    assert sorted(map(tuple, ok.collect())) == sorted(map(tuple, off.collect()))


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdefghij"), min_size=0, max_size=12
        ),
        min_size=2,
        max_size=25,
    ),
    st.sampled_from([0.3, 0.5, 0.6, 0.8, 1.0]),
    st.sampled_from(["prefix", "allpairs", "allpairs+bands"]),
)
def test_jaccard_pairs_match_brute_force(spark, docs, threshold, strat):
    """Every join strategy — prefix-filtered (r8 default), all-pairs,
    all-pairs with length bands — must return EXACTLY the brute-force
    pair set at any threshold (prefix filtering, the band prejoin and
    the ratio prune are pure candidate-size optimizations)."""
    from tsp_spark.pipeline.dedup import jaccard_pairs

    texts = [" ".join(toks) if toks else "" for toks in docs]
    rows = [(i, "b", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            df, "text", "doc_id", ["src"], threshold=threshold,
            length_bands=strat.endswith("bands"),
            strategy="prefix" if strat == "prefix" else "allpairs",
        ).collect()
    }
    want = set()
    sets = [set(t.split(" ")) for t in texts]
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            union = len(sets[i] | sets[j])
            if union and len(sets[i] & sets[j]) / union >= threshold:
                want.add((i, j))
    assert got == want


def test_minhash_band_bucket_guard(spark):
    """r6d (review-caught): identical-signature groups (exact copies)
    put k rows in one band bucket per band — the equi-join would go
    quadratic in k. The guard fails fast with a pointer to exact
    dedup; None disables it deliberately."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from tsp_spark.pipeline.dedup import minhash_lsh_pairs

    rows = [(i, "same boilerplate text repeated verbatim") for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(SparkRuntimeException, match="exact_duplicates"):
        minhash_lsh_pairs(
            df, "text", "doc_id", max_band_bucket=8
        ).collect()
    # explicit opt-out still works
    out = minhash_lsh_pairs(
        df, "text", "doc_id", max_band_bucket=None
    ).collect()
    assert len(out) == 9 * 8 // 2


def test_lsh_dims_mismatch_fails_fast(spark):
    """r6d (review-caught): a dims mismatch used to NULL every plane
    dot, collapse all vectors into bucket 0, and silently degrade the
    LSH join to all-pairs."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from tsp_spark.pipeline.similarity import lsh_bucket_topk

    rows = [(i, [float(i), 1.0, 2.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(SparkRuntimeException, match="dims"):
        lsh_bucket_topk(df, df.limit(2), dims=64).collect()
    # matching dims works
    out = lsh_bucket_topk(df, df.limit(2), dims=3, bits=2)
    assert out.count() >= 0


def test_jaccard_prefix_guard_fails_fast(spark):
    """r8: in prefix mode the quadratic risk moves to (bucket,
    prefix-token) blocks — a degenerate corpus where one token floods
    every prefix must fail fast with the actionable message, and
    within the limit prefix results equal the all-pairs strategy."""
    # 8 near-identical docs: tiny vocabulary → one shared rare token
    # lands in every prefix → an 8-doc prefix block under a limit of 3
    rows = [(i, "b", f"alpha beta gamma delta{i % 2}") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    from tsp_spark.pipeline.dedup import jaccard_pairs

    with pytest.raises(Exception, match="minhash_lsh_pairs"):
        jaccard_pairs(
            df, "text", "doc_id", ["src"], max_bucket_size=3,
            strategy="prefix",
        ).count()
    ok = jaccard_pairs(df, "text", "doc_id", ["src"], strategy="prefix")
    ref = jaccard_pairs(
        df, "text", "doc_id", ["src"], strategy="allpairs",
        max_bucket_size=None,
    )
    assert sorted(map(tuple, ok.collect())) == sorted(map(tuple, ref.collect()))


def test_simhash_pairs_match_brute_force(spark):
    """r8: the banded SimHash join must return EXACTLY the brute-force
    Hamming ≤ k pair set (pigeonhole: k < bands guarantees a shared
    band), and the parameter guards enforce the recall precondition."""
    import itertools

    from tsp_spark.pipeline.dedup import simhash_pairs
    from tsp_spark.pipeline.text import simhash

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),      # exact dup
        (2, "alpha beta gamma delta epsilon eta"),       # near dup
        (3, "one two three four five six seven"),
        (4, "one two three four five six eight"),
        (5, "completely unrelated words here now"),
        (6, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            df, "text", "doc_id", bits=32, bands=4, max_hamming=3
        ).collect()
    }
    sh = {
        r["doc_id"]: r["simhash"]
        for r in simhash(df, "text", "doc_id", bits=32).collect()
    }
    want = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for a, b in itertools.combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    assert got == want
    assert got[(0, 1)] == 0  # exact dup → identical fingerprints
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(df, "text", "doc_id", bits=32, bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divide"):
        simhash_pairs(df, "text", "doc_id", bits=32, bands=5)


# ---------------------------------------------------------------------------
# r8 sketch family: HLL, CMS heavy hitters, bottom-k quantiles
# ---------------------------------------------------------------------------


def test_hll_exact_regimes_and_error_bound(spark):
    from tsp_spark.pipeline.sketches import HLL_M, hll_distinct

    # "small" (30 distinct) lands in the linear-counting branch where
    # the estimate is near-exact; "big" (20000 distinct >> 2.5·m) uses
    # the raw estimator, whose relative error is ~1.04/sqrt(m) = 6.5%.
    rows = [("small", i) for i in range(30)] * 3 + [
        ("big", i) for i in range(20000)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r["g"]: r for r in hll_distinct(df, "v", ["g"]).collect()
    }
    small = out["small"]
    assert small["v_zero"] > 0
    assert abs(small["est_distinct"] - 30) / 30 < 0.10
    big = out["big"]
    rel_err = abs(big["est_distinct"] - 20000) / 20000
    assert rel_err < 3 * 1.04 / (HLL_M ** 0.5), f"off by {rel_err:.2%}"
    # register integrity: sum_reg counts only occupied buckets
    assert big["sum_reg"] >= (HLL_M - big["v_zero"])  # every reg ≥ 1


def test_hll_merge_by_max_register(spark):
    # HLL registers merge by per-bucket max: the sketch of A ∪ B must
    # equal the sketch built from the union stream — run both paths
    # and compare the full output row (registers drive every column).
    from tsp_spark.pipeline.sketches import hll_distinct

    a = [("g", i) for i in range(0, 900)]
    b = [("g", i) for i in range(600, 1500)]  # overlapping
    df_union = spark.createDataFrame(a + b, "g string, v long")
    df_dedup = spark.createDataFrame(sorted(set(a + b)), "g string, v long")
    got_u = hll_distinct(df_union, "v", ["g"]).collect()[0]
    got_d = hll_distinct(df_dedup, "v", ["g"]).collect()[0]
    assert got_u == got_d  # duplicates never move a max-register


def test_cms_one_sided_error(spark):
    from tsp_spark.pipeline.sketches import CMS_WIDTH, cms_heavy_hitters

    # Zipf-ish stream: token t_i appears ~ N/i times
    rows = []
    for i in range(1, 60):
        rows += [(f"t{i}",)] * (3000 // i)
    df = spark.createDataFrame(rows, "item string")
    exact = {}
    for (t,) in rows:
        exact[t] = exact.get(t, 0) + 1
    total = sum(exact.values())
    out = {r["item"]: r for r in cms_heavy_hitters(df, "item", inv_phi=50).collect()}
    assert out, "no heavy hitters found"
    eps_n = 2.718281828 / CMS_WIDTH * total
    for item, r in out.items():
        # one-sided: estimate never undercounts, overshoot ≤ e/w · N
        assert r["n_exact"] == exact[item]
        assert r["est_count"] >= r["n_exact"]
        assert r["est_count"] <= r["n_exact"] + eps_n
    # every true heavy hitter is reported (CMS never misses one)
    for item, n in exact.items():
        if n * 50 >= total:
            assert item in out, f"missed heavy hitter {item}"


def test_quantile_bottomk_exact_when_group_fits(spark):
    from tsp_spark.pipeline.sketches import quantile_bottomk

    # 100 rows < k=128 → the "sample" is the whole group and the
    # nearest-rank quantiles are the exact population quantiles
    vals = [float(v) for v in range(1, 101)]  # 1..100
    rows = [("g", i, vals[i - 1]) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = quantile_bottomk(df, "v", "id", ["g"], k=128).collect()[0]
    assert out["n_sample"] == 100
    assert out["q_50"] == 50.0   # ceil(0.5·100) = 50
    assert out["q_90"] == 90.0
    assert out["q_99"] == 99.0


def test_quantile_bottomk_sample_is_uniform_subset(spark):
    from tsp_spark.pipeline.sketches import quantile_bottomk

    # 5000 rows, k=128: quantiles must be actual data values and the
    # sample median of a uniform 0..1 grid must land near 0.5
    rows = [("g", i, i / 5000.0) for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = quantile_bottomk(df, "v", "id", ["g"], k=128).collect()[0]
    assert out["n_sample"] == 128
    values = {r[2] for r in rows}
    for c in ("q_50", "q_90", "q_99"):
        assert out[c] in values
    # binomial(128, .5) 5σ ≈ ±0.22
    assert abs(out["q_50"] - 0.5) < 0.25


def test_compressibility_signal(spark):
    import zlib

    from tsp_spark.pipeline.text import compressibility

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 40),  # repetitive
        (2, "9f8a7b6c5d4e3f2a1b0c" * 2),  # short, near-random
        (3, ""),  # empty: n_bytes 0 guarded
        (4, None),  # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in compressibility(df, "text", "doc_id").collect()}
    # exact parity with local zlib (determinism of the pandas_udf path)
    for doc_id, text in rows:
        if text is None:
            assert out[doc_id]["n_compressed"] is None
            continue
        want = len(zlib.compress(text.encode("utf-8"), 6))
        assert out[doc_id]["n_compressed"] == want
        assert out[doc_id]["n_bytes"] == len(text.encode("utf-8"))
    # the quality signal itself: repetition compresses far better
    assert out[1]["ratio_pct"] < 20
    assert out[2]["ratio_pct"] > 60


def test_hll_register_table_union_merges(spark):
    # the documented multi-dataset merge path: a plain UNION of two
    # register tables must estimate like the sketch of the union
    from tsp_spark.pipeline.sketches import (
        hll_distinct,
        hll_estimate_from_registers,
        hll_registers,
    )

    a = spark.createDataFrame([("g", i) for i in range(0, 900)], "g string, v long")
    b = spark.createDataFrame(
        [("g", i) for i in range(600, 1500)], "g string, v long"
    )
    merged = hll_registers(a, "v", ["g"]).unionByName(
        hll_registers(b, "v", ["g"])
    )
    got = hll_estimate_from_registers(merged, ["g"]).collect()[0]
    want = hll_distinct(a.unionByName(b), "v", ["g"]).collect()[0]
    assert got == want


def test_ivf_index_search_matches_in_memory_and_prunes(spark, tmp_path):
    """ivf_build_index + ivf_search_index: identical rows to the
    in-memory ivf_topk on the same corpus/queries, and the physical
    plan partition-prunes the lists read (dynamic partition pruning on
    the probe join), so a search touches ~nprobe/n_lists of the index."""
    from tsp_spark.pipeline.similarity import (
        ivf_build_index,
        ivf_search_index,
        ivf_topk,
    )
    from tsp_spark.queries import _load

    emb = _load(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where("vec_id < 10")
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb, idx)
    got = ivf_search_index(spark, idx, queries, k=5, nprobe=2)
    want = ivf_topk(emb, queries, k=5, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, "lists read is not partition-pruned"


def test_leakage_safe_split_keeps_clusters_together(spark):
    from tsp_spark.pipeline.curation import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    # chains of near-dups: {0,1,2}, {10,11}, {20,21,22,23}; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    out = leakage_safe_split(
        docs, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 500
    # every cluster in exactly one split
    for cluster in ({0, 1, 2}, {10, 11}, {20, 21, 22, 23}):
        splits = {rows[d]["split"] for d in cluster}
        cids = {rows[d]["cluster_id"] for d in cluster}
        assert len(splits) == 1 and len(cids) == 1, cluster
    # all three splits materialize and proportions are sane
    counts: dict = {}
    for r in rows.values():
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert 0.7 <= counts["train"] / 500 <= 0.9
    # deterministic under re-run
    again = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            docs, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert again == {k: v["split"] for k, v in rows.items()}


def test_ivf_index_torn_generation_ignored_and_string_labels(spark, tmp_path):
    """(a) An uncommitted (torn) generation is invisible: a build that
    died between the lists and marker writes must not be served —
    searches keep answering from the last COMMITTED generation.
    (b) String labels that parse numerically ('07' vs '7') stay
    distinct lists — the partition key is an encoded string, so the
    directory-name type inference can't collapse them."""
    from pyspark.sql import functions as F

    from tsp_spark.pipeline.similarity import (
        ivf_build_index,
        ivf_search_index,
        ivf_topk,
    )

    rows = [
        (1, "7", [1.0, 0.0]), (2, "7", [0.9, 0.1]),
        (3, "07", [0.0, 1.0]), (4, "07", [0.1, 0.9]),
        (5, "x", [0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    idx = str(tmp_path / "ivf")
    gen = ivf_build_index(df, idx)
    assert gen == 0
    queries = df.where("vec_id in (1, 3)")
    got = sorted(map(tuple, ivf_search_index(
        spark, idx, queries, k=2, nprobe=1
    ).collect()))
    want = sorted(map(tuple, ivf_topk(df, queries, k=2, nprobe=1).collect()))
    assert got == want
    # '7' and '07' are separate lists: query 1 (nprobe=1) must only
    # see label-'7' corpus rows
    n7 = {t[1] for t in got if t[0] == 1}
    assert n7 == {2}, n7
    # torn generation: lists written, NO marker — must be ignored
    df.limit(1).select(
        F.col("vec_id").alias("neighbor_id"), "label",
        F.col("embedding").alias("__cv"), F.lit(1.0).alias("__cn"),
        F.lit("lXXX").alias("__list"),
    ).write.partitionBy("__list").parquet(f"{idx}/gen=1/lists")
    got2 = sorted(map(tuple, ivf_search_index(
        spark, idx, queries, k=2, nprobe=1
    ).collect()))
    assert got2 == got
    # a committed rebuild IS picked up — and it RECLAIMS the torn
    # gen=1 slot (generation numbering counts committed gens only)
    assert ivf_build_index(df, idx) == 1
    got3 = sorted(map(tuple, ivf_search_index(
        spark, idx, queries, k=2, nprobe=1
    ).collect()))
    assert got3 == got


def test_stratified_sample_rates_and_monotonicity(spark):
    from tsp_spark.pipeline.curation import stratified_sample

    rows = [(i, "crawl" if i % 2 else "curated") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(
        df, "doc_id", "source", {"crawl": 0.1, "curated": 1.0}
    )
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts["curated"] == 2000          # rate 1.0 keeps all
    assert 120 <= counts["crawl"] <= 280       # ~10% of 2000, 5 sigma
    # unknown stratum honors default_rate
    extra = spark.createDataFrame([(99999, "other")], "doc_id long, source string")
    assert stratified_sample(
        extra, "doc_id", "source", {"crawl": 0.1}
    ).count() == 0
    assert stratified_sample(
        extra, "doc_id", "source", {"crawl": 0.1}, default_rate=1.0
    ).count() == 1
    # nested-sample monotonicity: the 10% crawl sample is a subset of
    # the 30% crawl sample (same seed, same bucket function)
    lo = {
        r["doc_id"]
        for r in stratified_sample(df, "doc_id", "source", {"crawl": 0.1}).collect()
    }
    hi = {
        r["doc_id"]
        for r in stratified_sample(df, "doc_id", "source", {"crawl": 0.3}).collect()
    }
    assert lo <= hi
    # bad rates fail loudly
    with pytest.raises(ValueError):
        stratified_sample(df, "doc_id", "source", {"crawl": 1.5})


def test_repetition_signals_exact(spark):
    """Gopher-style repetition filters: hand-computed fractions on
    crafted docs (modal-bigram share, duplicated-trigram share),
    short-doc zeroes, and the brute-force python reference on a
    mixed batch."""
    from tsp_spark.pipeline.text import repetition_signals

    docs = [
        # "a b a b a" → bigrams [ab, ba, ab, ba]: top 2/4; trigrams
        # [aba, bab, aba]: dup occurrences {aba×2} → 2/3
        (1, "a b a b a"),
        # all-distinct tokens → top bigram 1/4, no dup trigrams
        (2, "v w x y z"),
        (3, "solo"),        # too short for either n-gram
        (4, "two words"),   # one bigram (top 1/1), no trigram
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["top_bigram_frac"], r["dup_trigram_frac"])
        for r in repetition_signals(df, "text", "doc_id").collect()
    }
    assert got[1] == (2 / 4, 2 / 3)
    assert got[2] == (1 / 4, 0.0)
    assert got[3] == (0.0, 0.0)
    assert got[4] == (1 / 1, 0.0)

    def ref(text):
        toks = text.split(" ")
        out = []
        for n in (2, 3):
            grams = [
                " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
            ] if len(toks) >= n else []
            if not grams:
                out.append(0.0)
            elif n == 2:
                out.append(max(grams.count(d) for d in set(grams)) / len(grams))
            else:
                out.append(
                    sum(1 for g in grams if grams.count(g) >= 2) / len(grams)
                )
        return tuple(out)

    for doc_id, text in docs:
        assert got[doc_id] == ref(text), doc_id


def test_line_repetition_signals_exact(spark):
    """Gopher line-level repetition: hand-computed fractions, blank
    lines counted, single-line zero, plus a python brute-force
    reference."""
    from tsp_spark.pipeline.text import line_repetition_signals

    docs = [
        # 4 lines, "aa" repeated twice → dup lines 2/4; chars: dup 4
        # of total 2+2+3+4=11
        (1, "aa\naa\nbbb\ncccc"),
        (2, "one line only"),
        # blank-line run: 3 of 4 lines duplicated ("" twice is 2... )
        (3, "x\n\n\ny"),          # lines x,'','',y → dup 2/4, chars 0/2
        (4, "same\nsame\nsame"),  # all dup → 3/3, 12/12
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["dup_line_frac"], r["dup_line_char_frac"])
        for r in line_repetition_signals(df, "text", "doc_id").collect()
    }
    assert got[1] == (2 / 4, 4 / 11)
    assert got[2] == (0.0, 0.0)
    assert got[3] == (2 / 4, 0.0)
    assert got[4] == (1.0, 1.0)

    def ref(text):
        ls = text.split("\n")
        if len(ls) <= 1:
            return (0.0, 0.0)
        dup = [x for x in ls if ls.count(x) >= 2]
        chars = sum(len(x) for x in ls)
        return (
            len(dup) / len(ls),
            (sum(len(x) for x in dup) / chars) if chars else 0.0,
        )

    for doc_id, text in docs:
        assert got[doc_id] == ref(text), doc_id


def test_duplicated_span_stats_exact(spark):
    """Exact-substring span detector (Lee et al. k-gram form):
    hand-built corpus exercising cross-doc dupes, within-doc repeats,
    overlapping-window merge, short docs, and clean docs — checked
    against an independent python brute force."""
    from tsp_spark.pipeline.dedup import duplicated_span_stats

    K = 3
    shared = "the quick brown fox jumps"       # 5 tokens → 3 grams
    docs = [
        (1, f"alpha {shared} omega one"),       # shares 5-token run w/ 2
        (2, f"start {shared} end two zz"),
        (3, "self self self self unique tail"),  # within-doc repeat
        (4, "too short"),                        # n < K → all zeros
        (5, "completely novel words nothing here matches at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_spans"], r["dup_tokens"], r["dup_frac"]
        )
        for r in duplicated_span_stats(
            df, "text", "doc_id", k=K
        ).collect()
    }

    # brute force: every k-gram occurrence in the corpus, count >= 2
    from collections import Counter

    grams = Counter()
    per_doc = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        per_doc[doc_id] = toks
        for i in range(len(toks) - K + 1):
            grams[tuple(toks[i:i + K])] += 1

    for doc_id, text in docs:
        toks = per_doc[doc_id]
        n = len(toks)
        covered = set()
        for i in range(len(toks) - K + 1):
            if grams[tuple(toks[i:i + K])] >= 2:
                covered.update(range(i, i + K))
        # merged spans = runs of consecutive covered positions
        spans = 0
        prev = None
        for p in sorted(covered):
            if prev is None or p > prev + 1:
                spans += 1
            prev = p
        want = (n, spans, len(covered), len(covered) / n)
        assert got[doc_id] == want, (doc_id, got[doc_id], want)

    # sanity on the hand-built shape: docs 1 and 2 share exactly the
    # 5-token run (one merged span), doc 3 has a within-doc span
    assert got[1][1:] == (1, 5, 5 / 8)
    assert got[3][1] == 1 and got[3][2] == 4
    assert got[4] == (2, 0, 0, 0.0)
    assert got[5][1:] == (0, 0, 0.0)


def test_ngram_lm_scores_exact(spark):
    """Bigram-LM quality signal: hand-built corpus against an
    independent python reference (add-one smoothing, V = distinct
    tokens, mean of 6-decimal-rounded ln terms), plus the separate
    train-corpus path with unseen bigrams hitting the smoothed
    floor."""
    import math
    from collections import Counter

    from tsp_spark.pipeline.text import ngram_lm_scores

    docs = [
        (1, "a b a b c"),
        (2, "a b"),
        (3, "z"),            # < 2 tokens → (0, 0.0)
        (4, "c c c c"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def ref(score_docs, train_docs):
        big = Counter()
        ctx = Counter()
        vocab = set()
        for _, t in train_docs:
            toks = t.split(" ")
            vocab.update(toks)
            for i in range(len(toks) - 1):
                big[(toks[i], toks[i + 1])] += 1
                ctx[toks[i]] += 1
        v = len(vocab)
        out = {}
        for d, t in score_docs:
            toks = t.split(" ")
            if len(toks) < 2:
                out[d] = (0, 0.0)
                continue
            lps = [
                round(
                    math.log(
                        (big[(toks[i], toks[i + 1])] + 1)
                        / (ctx[toks[i]] + v)
                    ),
                    6,
                )
                for i in range(len(toks) - 1)
            ]
            s = 0.0
            for x in lps:
                s += x
            out[d] = (len(lps), s / len(lps))
        return out

    got = {
        r["doc_id"]: (r["n_bigrams"], r["lm_score"])
        for r in ngram_lm_scores(df, "text", "doc_id").collect()
    }
    assert got == ref(docs, docs)

    # separate training corpus: doc bigrams unseen in training score
    # at the smoothed floor ln(1 / (ctx + V)) and ctx-unseen at ln(1/V)
    train = [(10, "a b c"), (11, "b c")]
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    got2 = {
        r["doc_id"]: (r["n_bigrams"], r["lm_score"])
        for r in ngram_lm_scores(df, "text", "doc_id", train_df=tdf).collect()
    }
    assert got2 == ref(docs, train)
    # sanity: doc 4's "c c" bigram is unseen AND c has no context in
    # training ("c" is always final) → every term is ln(1/V), V=3
    assert got2[4] == (3, round(math.log(1 / 3), 6))


def test_tfidf_top_terms_exact(spark):
    """TF-IDF keyword extraction vs a python brute force: raw tf,
    ln(N/df) idf clamped to 6 decimals, (score desc, token) total
    order, exact rank-k cutoff."""
    import math
    from collections import Counter

    from tsp_spark.pipeline.text import tfidf_top_terms

    docs = [
        (1, "apple banana apple cherry"),
        (2, "banana banana date"),
        (3, "apple date date date"),
        (4, "egg egg egg egg"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["token"], r["tf"], r["score"], r["rank"])
        for r in tfidf_top_terms(df, "text", "doc_id", k=2).collect()
    )

    n = len(docs)
    tfs = {d: Counter(t.split(" ")) for d, t in docs}
    dfreq = Counter(tok for c in tfs.values() for tok in c)
    want = []
    for d, c in tfs.items():
        scored = sorted(
            (
                (tok, tf, tf * round(math.log(n / dfreq[tok]), 6))
                for tok, tf in c.items()
            ),
            key=lambda x: (-x[2], x[0]),
        )
        for rank, (tok, tf, score) in enumerate(scored[:2], start=1):
            want.append((d, tok, tf, score, rank))
    assert got == sorted(want)
    # doc 4 is single-token: egg appears in 1 of 4 docs, tf 4
    assert [g for g in got if g[0] == 4] == [
        (4, "egg", 4, 4 * round(math.log(4.0), 6), 1)
    ]


def test_span_and_lm_random_corpora_brute_force(spark):
    """Randomized parity for duplicated_span_stats and ngram_lm_scores
    on small adversarial corpora (tiny vocab → heavy collisions,
    single-token docs, within-doc runs), against python brute forces.
    Seeded — deterministic across runs."""
    import math
    import random
    from collections import Counter

    from tsp_spark.pipeline.dedup import duplicated_span_stats
    from tsp_spark.pipeline.text import ngram_lm_scores

    rng = random.Random(0xC0FFEE)
    vocab = ["a", "b", "c", "dd"]
    for trial in range(3):
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
            for i in range(30)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        K = rng.choice([2, 3])

        # --- spans brute force
        grams = Counter()
        for _, t in docs:
            toks = t.split(" ")
            for i in range(len(toks) - K + 1):
                grams[tuple(toks[i:i + K])] += 1
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_spans"], r["dup_tokens"])
            for r in duplicated_span_stats(df, "text", "doc_id", k=K).collect()
        }
        for d, t in docs:
            toks = t.split(" ")
            covered = set()
            for i in range(len(toks) - K + 1):
                if grams[tuple(toks[i:i + K])] >= 2:
                    covered.update(range(i, i + K))
            spans, prev = 0, None
            for p in sorted(covered):
                if prev is None or p > prev + 1:
                    spans += 1
                prev = p
            assert got[d] == (len(toks), spans, len(covered)), (trial, d)

        # --- LM brute force
        big, ctx, vset = Counter(), Counter(), set()
        for _, t in docs:
            toks = t.split(" ")
            vset.update(toks)
            for i in range(len(toks) - 1):
                big[(toks[i], toks[i + 1])] += 1
                ctx[toks[i]] += 1
        v = len(vset)
        got_lm = {
            r["doc_id"]: (r["n_bigrams"], r["lm_score"])
            for r in ngram_lm_scores(df, "text", "doc_id").collect()
        }
        for d, t in docs:
            toks = t.split(" ")
            if len(toks) < 2:
                assert got_lm[d] == (0, 0.0), (trial, d)
                continue
            s = 0.0
            for i in range(len(toks) - 1):
                s += round(
                    math.log(
                        (big[(toks[i], toks[i + 1])] + 1) / (ctx[toks[i]] + v)
                    ),
                    6,
                )
            m = len(toks) - 1
            assert got_lm[d] == (m, s / m), (trial, d)


def test_build_training_mix_budgets_and_nesting(spark):
    """Budget-driven mix: rates derived from token budgets, full-keep
    sources kept whole, nested monotonicity under a budget raise,
    deterministic interleave order, and arg validation."""
    import pytest

    from tsp_spark.pipeline.curation import build_training_mix

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # two synthetic 'corpora' carved from the same table
    crawl = docs.where(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    curated = docs.where(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    crawl_tokens = crawl.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0]["t"]

    mix, plan = build_training_mix(
        {"crawl": crawl, "curated": curated},
        "text",
        "doc_id",
        {"crawl": crawl_tokens // 3, "curated": 10**9},
    )
    rows = mix.collect()

    # curated: budget >= total -> rate 1.0, kept whole
    assert plan["curated"]["rate"] == 1.0
    n_curated = sum(1 for r in rows if r["source"] == "curated")
    assert n_curated == curated.count()

    # crawl: rate ~ 1/3, binomial tolerance on the token budget
    assert 0.30 <= plan["crawl"]["rate"] <= 0.37
    crawl_kept_tokens = sum(
        r["n_tokens"] for r in rows if r["source"] == "crawl"
    )
    # ±10% of TARGET: the hash sample's real deviation at this corpus
    # size is well under 5%, so this band still has headroom while
    # catching any off-by-a-factor rate derivation
    target = crawl_tokens // 3
    assert abs(crawl_kept_tokens - target) < 0.10 * target

    # nesting: raising crawl's budget only ADDS crawl docs
    mix2, _ = build_training_mix(
        {"crawl": crawl, "curated": curated},
        "text",
        "doc_id",
        {"crawl": (2 * crawl_tokens) // 3, "curated": 10**9},
    )
    ids1 = {r["id"] for r in rows if r["source"] == "crawl"}
    ids2 = {
        r["id"] for r in mix2.collect() if r["source"] == "crawl"
    }
    assert ids1 <= ids2 and len(ids2) > len(ids1)

    # interleave: both sources present in every quartile of mix_order
    ordered = sorted(rows, key=lambda r: r["mix_order"])
    q = len(ordered) // 4
    for i in range(4):
        seg = ordered[i * q:(i + 1) * q]
        assert {r["source"] for r in seg} == {"crawl", "curated"}, i

    # determinism
    mix3, plan3 = build_training_mix(
        {"crawl": crawl, "curated": curated},
        "text",
        "doc_id",
        {"crawl": crawl_tokens // 3, "curated": 10**9},
    )
    assert plan3 == plan
    assert sorted(map(tuple, mix3.collect())) == sorted(map(tuple, rows))

    with pytest.raises(ValueError, match="same corpora"):
        build_training_mix(
            {"crawl": crawl}, "text", "doc_id", {"web": 1}
        )
    with pytest.raises(ValueError, match=">= 0"):
        build_training_mix(
            {"crawl": crawl}, "text", "doc_id", {"crawl": -1}
        )


def test_build_training_mix_tiny_rate_and_guards(spark):
    """Review-caught quantization bug: a 1e-6-scale rate must neither
    silently drop the source (the 1/10^4 sample_member grid would)
    nor misreport the plan; a rate below even the 1/10^9 grid raises."""
    import pytest

    from tsp_spark.pipeline.curation import build_training_mix

    n_docs = 1_000_000
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.lit("w " * 9 + "w").alias("text"),  # 10 tokens each
    )
    total = n_docs * 10
    budget = total // 30_000  # rate ~3.33e-5: round(rate*1e4) == 0
    mix, plan = build_training_mix(
        {"s": docs}, "text", "doc_id", {"s": budget}
    )
    assert plan["s"]["rate"] == pytest.approx(budget / total)
    assert plan["s"]["effective_rate"] == pytest.approx(
        budget / total, rel=2e-2
    )
    n = mix.count()
    # expected ~33 kept docs (binomial sd ~5.8); the 10^4 grid would
    # have kept exactly 0
    assert 5 <= n <= 80, n
    mix2, _ = build_training_mix(
        {"s": docs}, "text", "doc_id", {"s": budget}
    )
    assert mix2.exceptAll(mix).count() == 0 and mix.count() == mix2.count()

    # a rate that quantizes to zero raises instead of silent drop
    tiny = spark.range(10**6, 10**6 + 2000).select(
        F.col("id").alias("doc_id"), F.lit("w " * 9 + "w").alias("text")
    )
    with pytest.raises(ValueError, match="quantizes to zero"):
        # total 20000 tokens, budget 1 -> rate 5e-5... that's ABOVE
        # 1/10^9; force below: budget such that rate < 0.5e-9 needs a
        # huge corpus -- instead assert the guard via monkey granularity
        import tsp_spark.pipeline.curation as cur

        old = cur._MIX_BUCKETS
        cur._MIX_BUCKETS = 1000
        try:
            build_training_mix(
                {"t": tiny}, "text", "doc_id", {"t": 1}
            )
        finally:
            cur._MIX_BUCKETS = old


def test_ngram_lm_scores_empty_train_raises(spark):
    """Review-caught: an empty held-out training corpus must raise
    (V = 0 would otherwise send every score to +Inf silently)."""
    from tsp_spark.pipeline.text import ngram_lm_scores

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    empty = docs.where("doc_id < 0")
    with pytest.raises(ValueError, match="V = 0"):
        ngram_lm_scores(docs, "text", "doc_id", train_df=empty)


def test_trim_duplicated_spans_exact(spark):
    """The trimmer half of the exact-substring pipeline: rebuilt text
    equals the python brute force (drop-all policy), spans cut across
    docs and within docs, untouched docs round-trip verbatim, fully-
    duplicated docs collapse to the empty string."""
    from collections import Counter

    from tsp_spark.pipeline.dedup import trim_duplicated_spans

    K = 3
    shared = "the quick brown fox jumps"
    docs = [
        (1, f"alpha {shared} omega one"),
        (2, f"start {shared} end two zz"),
        (3, "self self self self unique tail"),
        (4, "too short"),
        (5, "completely novel words nothing here matches at all"),
        (6, shared),  # fully duplicated -> empty rebuild
        (7, shared),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_kept"])
        for r in trim_duplicated_spans(df, "text", "doc_id", k=K).collect()
    }

    grams = Counter()
    for _, t in docs:
        toks = t.split(" ")
        for i in range(len(toks) - K + 1):
            grams[tuple(toks[i:i + K])] += 1
    for d, t in docs:
        toks = t.split(" ")
        covered = set()
        for i in range(len(toks) - K + 1):
            if grams[tuple(toks[i:i + K])] >= 2:
                covered.update(range(i, i + K))
        kept = [tok for i, tok in enumerate(toks) if i not in covered]
        assert got[d] == (" ".join(kept), len(toks), len(kept)), d

    assert got[4] == ("too short", 2, 2)       # below k: untouched
    assert got[6] == ("", 5, 0)                # fully duplicated
    assert got[1][0] == "alpha omega one"      # the shared run is cut


def test_pca_fit_transform_matches_numpy(spark):
    """Distributed PCA vs numpy on the collected data: covariance
    eigenstructure, projection parity (signs fixed deterministically),
    whitening produces unit variance, and the fit is partitioning-
    independent."""
    import numpy as np

    from tsp_spark.pipeline.similarity import pca_fit, pca_transform

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    x = np.asarray(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.orderBy("vec_id").collect()
        ]
    )
    n, dim = x.shape

    model = pca_fit(emb, "embedding", n_components=8)
    assert model["n_rows"] == n and model["dim"] == dim

    # reference: numpy eigh on the sample covariance
    mean = x.mean(axis=0)
    cov = (x - mean).T @ (x - mean) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:8]
    np.testing.assert_allclose(model["mean"], mean, atol=1e-9)
    np.testing.assert_allclose(
        model["explained_var"], evals[order], rtol=1e-8
    )
    for got_c, ref_c in zip(model["components"], evecs[:, order].T):
        # same axis up to sign
        dot = abs(float(np.dot(got_c, ref_c)))
        assert dot == pytest.approx(1.0, abs=1e-8)

    # projection parity + whitened unit variance
    proj = pca_transform(emb, "embedding", model, whiten=True)
    p = np.asarray(
        [
            np.asarray(r["pca"], dtype=np.float64)
            for r in proj.orderBy("vec_id").collect()
        ]
    )
    np.testing.assert_allclose(
        (x - mean) @ model["whiten"].T, p, atol=1e-9
    )
    np.testing.assert_allclose(p.var(axis=0, ddof=1), 1.0, rtol=1e-5)

    # partitioning independence: refit on a repartitioned frame
    model2 = pca_fit(emb.repartition(13), "embedding", n_components=8)
    np.testing.assert_allclose(
        model2["components"], model["components"], atol=1e-9
    )


def test_kmeans_recovers_blobs_and_feeds_ivf(spark):
    """Lloyd's k-means: recovers well-separated blobs with 100% purity,
    is deterministic across partitionings, keeps empty clusters
    stable, and its assignment plugs into ivf_topk as the list
    structure (the true-IVF path)."""
    import numpy as np

    from tsp_spark.pipeline.similarity import (
        ivf_topk,
        kmeans_assign,
        kmeans_fit,
    )

    rng = np.random.default_rng(11)
    centers = np.array([[10.0] * 8, [-10.0] * 8, [10.0] * 4 + [-10.0] * 4])
    rows = []
    for i in range(240):
        b = i % 3
        rows.append(
            (i, b, [float(x) for x in centers[b] + rng.normal(0, 0.5, 8)])
        )
    df = spark.createDataFrame(
        rows, "vec_id long, true_blob int, embedding array<double>"
    )

    cents = kmeans_fit(df, "embedding", "vec_id", k=3, n_iter=15)
    assert cents.shape == (3, 8)
    got = kmeans_assign(df, "embedding", cents).collect()
    # purity: every true blob maps to exactly one learned cluster
    mapping = {}
    for r in got:
        mapping.setdefault(r["true_blob"], set()).add(r["cluster"])
    assert all(len(v) == 1 for v in mapping.values())
    assert len({next(iter(v)) for v in mapping.values()}) == 3

    # determinism across partitionings
    cents2 = kmeans_fit(
        df.repartition(7), "embedding", "vec_id", k=3, n_iter=15
    )
    np.testing.assert_allclose(cents, cents2, atol=1e-9)

    # k > distinct points: the empty cluster keeps its init centroid
    tiny = spark.createDataFrame(
        [(i, [float(i % 2)] * 4) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    c4 = kmeans_fit(tiny, "embedding", "vec_id", k=4, n_iter=5)
    assert c4.shape == (4, 4) and np.isfinite(c4).all()

    # the learned clusters serve as IVF lists end-to-end
    listed = kmeans_assign(df, "embedding", cents, out_col="label")
    res = ivf_topk(
        listed, listed.where(F.col("vec_id") < 3), k=3, nprobe=1
    )
    out = res.collect()
    assert len(out) == 9
    # with nprobe=1 on tight blobs, neighbors share the query's blob
    blob = {r["vec_id"]: r["true_blob"] for r in df.collect()}
    assert all(blob[r["query_id"]] == blob[r["neighbor_id"]] for r in out)


def test_embedding_ops_reject_dirty_vectors(spark):
    """Review-caught: NULL or ragged embedding rows must fail with a
    clear validation message, not an opaque BLAS/length-mismatch error
    deep in an executor (the lsh_bucket_topk dims-guard precedent)."""
    import numpy as np

    from tsp_spark.pipeline.similarity import (
        kmeans_assign,
        pca_fit,
        pca_transform,
    )

    clean = spark.createDataFrame(
        [(i, [float(i), float(i + 1), 0.5, 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    model = pca_fit(clean, "embedding", n_components=2)
    cents = np.asarray([[0.0, 0.0, 0.0, 0.0], [30.0, 30.0, 0.5, 1.0]])

    ragged = clean.union(
        spark.createDataFrame(
            [(99, [1.0, 2.0])], "vec_id long, embedding array<double>"
        )
    )
    nulled = clean.union(
        spark.createDataFrame(
            [(98, None)], "vec_id long, embedding array<double>"
        )
    )
    for bad, msg in ((ragged, "embedding length"), (nulled, "NULL embedding")):
        with pytest.raises(Exception, match=msg):
            pca_transform(bad, "embedding", model).collect()
        with pytest.raises(Exception, match=msg):
            kmeans_assign(bad, "embedding", cents).collect()
    with pytest.raises(Exception, match="embedding length"):
        pca_fit(ragged, "embedding", n_components=2)

    # all-NULL input: clear error, not a numpy crash
    with pytest.raises(ValueError, match="no non-NULL"):
        pca_fit(
            spark.createDataFrame(
                [(1, None)], "vec_id long, embedding array<double>"
            ),
            "embedding",
            n_components=1,
        )


def test_bpe_train_and_encode(spark):
    """Learned BPE: the Sennrich paper's classic example trains the
    expected first merges, encode round-trips (concat of a word's
    tokens == word + '</w>'), inference equals training segmentation,
    and everything is deterministic across partitionings."""
    from tsp_spark.pipeline.bpe import _encode_word, bpe_encode, bpe_train

    # the canonical corpus: low x5, lower x2, newest x6, widest x3
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = [(i, " ".join(words)) for i in range(3)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    merges = bpe_train(df, "text", "doc_id", n_merges=10)
    # first merges: (e,s) 27, then (es,t) 27, then (est,</w>) 27...
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("est", "</w>")

    out = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_learned_bpe_tokens"])
        for r in bpe_encode(df, "text", "doc_id", merges).collect()
    }
    toks, n = out[0]
    assert n == len(toks)
    # round-trip: tokens re-concatenate to the original words
    joined = "".join(toks).replace("</w>", " ").strip()
    assert joined == " ".join(words)
    # inference segmentation equals training segmentation per word
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    flat = []
    for w in words:
        flat.extend(_encode_word(w, ranks))
    assert toks == flat

    # determinism across partitionings
    merges2 = bpe_train(df.repartition(5), "text", "doc_id", n_merges=10)
    assert merges2 == merges

    # sampled training still yields a usable table on the real corpus
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m = bpe_train(
        corpus, "text", "doc_id", n_merges=50, sample_fraction=0.5
    )
    assert len(m) == 50
    enc = bpe_encode(corpus, "text", "doc_id", m)
    row = enc.orderBy("doc_id").first()
    assert row["n_learned_bpe_tokens"] > 0

    # the incremental (indexed lazy-heap) trainer must equal the naive
    # reference on randomized word tables — including tie territory
    import random

    from tsp_spark.pipeline.bpe import _bpe_train_reference

    rng = random.Random(0xBEEF)
    for trial in range(3):
        wf = {
            "".join(
                rng.choice("ab") for _ in range(rng.randint(1, 6))
            ): rng.randint(1, 9)
            for _ in range(30)
        }
        wdf = spark.createDataFrame(
            [(i, " ".join([w] * n)) for i, (w, n) in enumerate(wf.items())],
            "doc_id long, text string",
        )
        got = bpe_train(wdf, "text", "doc_id", n_merges=25)
        assert got == _bpe_train_reference(wf, 25), trial


def test_kmeans_quantizer_feeds_persisted_ivf_index(spark, tmp_path):
    """The full serving chain with a LEARNED quantizer: kmeans labels
    become the persisted IVF index's list structure, and searching the
    committed index equals the in-memory ivf_topk over the same
    assignment."""
    from tsp_spark.pipeline.similarity import (
        ivf_build_index,
        ivf_search_index,
        ivf_topk,
        kmeans_assign,
        kmeans_fit,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    cents = kmeans_fit(emb, "embedding", "vec_id", k=4, n_iter=8)
    listed = kmeans_assign(emb, "embedding", cents, out_col="label")

    gen = ivf_build_index(listed, str(tmp_path / "ivf"))
    assert gen == 0
    queries = listed.where(F.col("vec_id") < 5)
    served = ivf_search_index(
        spark, str(tmp_path / "ivf"), queries, k=3, nprobe=2
    )
    mem = ivf_topk(listed, queries, k=3, nprobe=2)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, mem.collect())
    )


def test_duplicated_span_profile_equals_stats_join_trim(spark):
    """duplicated_span_profile (the one-plan combined form the driver
    fold uses) must equal duplicated_span_stats joined with
    trim_duplicated_spans column-for-column on the real corpus."""
    from tsp_spark.pipeline.dedup import (
        duplicated_span_profile,
        duplicated_span_stats,
        trim_duplicated_spans,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    prof = {
        r["doc_id"]: tuple(r)[1:]
        for r in duplicated_span_profile(
            docs, "text", "doc_id", k=8
        ).collect()
    }
    stats = {
        r["doc_id"]: r for r in duplicated_span_stats(
            docs, "text", "doc_id", k=8
        ).collect()
    }
    trim = {
        r["doc_id"]: r for r in trim_duplicated_spans(
            docs, "text", "doc_id", k=8
        ).collect()
    }
    assert set(prof) == set(stats) == set(trim)
    for d, row in prof.items():
        s, t = stats[d], trim[d]
        want = (
            s["n_tokens"], s["n_spans"], s["dup_tokens"], s["dup_frac"],
            t["text_clean"], t["n_kept"],
        )
        assert row == want, d


def test_encoding_quality_signals_exact(spark):
    """Mojibake screens: hand-computed fractions — replacement chars,
    C0 controls (tab/newline/CR exempt), non-ASCII; empty text is all
    zeros; clean ASCII is all zeros."""
    from tsp_spark.pipeline.text import encoding_quality

    docs = [
        (1, "clean ascii text"),
        (2, "bad��decode"),          # 2 repl of 11 chars
        (3, "tab\tok\nnewline\rok"),           # exempt controls only
        (4, "ctl\x01\x02here"),                # 2 C0 controls of 9
        (5, "café naïve"),           # 2 non-ascii of 10
        (6, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["replacement_char_frac"],
            r["control_char_frac"],
            r["non_ascii_frac"],
        )
        for r in encoding_quality(df, "text", "doc_id").collect()
    }
    assert got[1] == (0.0, 0.0, 0.0)
    assert got[2] == (2 / 11, 0.0, 2 / 11)  # U+FFFD is also non-ascii
    assert got[3] == (0.0, 0.0, 3 / 17)     # \t\n\r exempt as controls
    assert got[4] == (0.0, 2 / 9, 2 / 9)
    assert got[5] == (0.0, 0.0, 2 / 10)
    assert got[6] == (0.0, 0.0, 0.0)

    def ref(t):
        if not t:
            return (0.0, 0.0, 0.0)
        n = len(t)
        repl = t.count("�")
        ctrl = sum(1 for c in t if ord(c) < 0x20 and c not in "\t\n\r")
        na = sum(1 for c in t if not (0x20 <= ord(c) <= 0x7E))
        return (repl / n, ctrl / n, na / n)

    for d, t in docs:
        assert got[d] == ref(t), d


def test_hash_keys_paths_identical(spark):
    """hash_keys=True (r10) must be OUTPUT-identical to the string-keyed
    paths: self-trained LM, frozen cross-corpus LM (the mode the oracle
    fold can't drive — unseen bigrams hit the smoothed floor), and
    per-doc TF-IDF."""
    from tsp_spark.pipeline.text import (
        ngram_lm_fit,
        ngram_lm_score_with_model,
        ngram_lm_scores,
        tfidf_top_terms,
    )

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the cat ate the cat food"),
        (2, "dogs bark"),
        (3, "x"),
        (4, "the the the the"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    train = spark.createDataFrame(docs[:3], "doc_id long, text string")

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    # self-trained
    assert rows(ngram_lm_scores(df, "text", "doc_id")) == rows(
        ngram_lm_scores(df, "text", "doc_id", hash_keys=True)
    )
    # frozen model scoring a different corpus (unseen bigrams/contexts)
    m_str = ngram_lm_fit(train, "text", persist=False)
    m_h = ngram_lm_fit(train, "text", persist=False, hash_keys=True)
    assert rows(
        ngram_lm_score_with_model(df, "text", "doc_id", m_str)
    ) == rows(ngram_lm_score_with_model(df, "text", "doc_id", m_h))
    # tf-idf
    assert rows(tfidf_top_terms(df, "text", "doc_id", k=3)) == rows(
        tfidf_top_terms(df, "text", "doc_id", k=3, hash_keys=True)
    )
    # the hashed tf-idf output must not leak the internal key column
    assert "__kt" not in tfidf_top_terms(
        df, "text", "doc_id", k=3, hash_keys=True
    ).columns


def test_trim_keep_first_brute_force(spark):
    """keep_first trimming (r10) vs a python brute force on small
    adversarial corpora (tiny vocab, heavy collisions, within-doc
    repeats): the canonical — minimal (doc_id, pos) — occurrence of
    each duplicated k-gram is excluded from the cut set; everything
    else matches the drop-all machinery. Seeded, deterministic."""
    import random

    from tsp_spark.pipeline.dedup import trim_duplicated_spans

    rng = random.Random(0xBEEF)
    vocab = ["a", "b", "c"]
    for trial in range(3):
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 14))))
            for i in range(25)
        ]
        K = rng.choice([2, 3])

        # brute force: gram -> occurrence list, canonical excluded
        from collections import defaultdict

        occs = defaultdict(list)
        for d, t in docs:
            toks = t.split(" ")
            for i in range(len(toks) - K + 1):
                occs[tuple(toks[i:i + K])].append((d, i))
        cut = defaultdict(set)
        for gram, lst in occs.items():
            if len(lst) < 2:
                continue
            canon = min(lst)
            for d, i in lst:
                if (d, i) != canon:
                    cut[d].update(range(i, i + K))
        expect = {}
        for d, t in docs:
            toks = t.split(" ")
            kept = [w for i, w in enumerate(toks) if i not in cut[d]]
            expect[d] = (" ".join(kept), len(kept), len(toks))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["text_clean"], r["n_kept"], r["n_tokens"])
            for r in trim_duplicated_spans(
                df, "text", "doc_id", k=K, keep_first=True
            ).collect()
        }
        assert got == expect, (trial, K)

        # keep_first must never remove MORE than drop-all
        dropall = {
            r["doc_id"]: r["n_kept"]
            for r in trim_duplicated_spans(
                df, "text", "doc_id", k=K
            ).collect()
        }
        assert all(got[d][1] >= dropall[d] for d in dropall)


def test_gopher_battery_brute_force(spark):
    """The full Gopher char-fraction battery (r10) vs python brute
    forces on adversarial corpora: tiny vocab (heavy within-doc
    repetition), single-token docs, all-same-token docs, empty-ish
    docs. Seeded, deterministic."""
    import random
    from collections import Counter

    from tsp_spark.pipeline.text import (
        DUP_GRAM_NS,
        TOP_GRAM_NS,
        gopher_repetition_signals,
    )

    rng = random.Random(0xD0C5)
    docs = [
        (0, "a"),
        (1, "a a a a a a a a a a a a"),
        (2, "x y z w q r s t u v"),
    ]
    docs += [
        (3 + i, " ".join(
            rng.choice(["a", "b", "cc", "ddd"])
            for _ in range(rng.randint(1, 40))
        ))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition_signals(df, "text", "doc_id").collect()
    }

    for d, t in docs:
        toks = t.split(" ")
        nt = len(toks)
        tok_chars = sum(len(x) for x in toks)
        for n in TOP_GRAM_NS:
            grams = [" ".join(toks[i:i + n]) for i in range(nt - n + 1)]
            cnt = Counter(grams)
            rep = {g: c for g, c in cnt.items() if c >= 2}
            if not rep or len(t) == 0:
                want = 0.0
            else:
                best = max(rep.items(), key=lambda kv: (kv[1], len(kv[0])))
                want = best[1] * len(best[0]) / len(t)
            assert got[d][f"top_{n}gram_char_frac"] == want, (d, n, t)
        for n in DUP_GRAM_NS:
            grams = [" ".join(toks[i:i + n]) for i in range(nt - n + 1)]
            cnt = Counter(grams)
            covered = set()
            for i, g in enumerate(grams):
                if cnt[g] >= 2:
                    covered.update(range(i, i + n))
            want = (
                sum(len(toks[i]) for i in covered) / tok_chars
                if grams and tok_chars > 0
                else 0.0
            )
            assert got[d][f"dup_{n}gram_char_frac"] == want, (d, n, t)


def test_gopher_filter_verdicts(spark):
    """gopher_filter: clean long prose keeps; boilerplate repetition,
    too-short docs, and degenerate token lengths flag with the right
    first_flag; thresholds are overridable; unknown keys rejected."""
    import pytest

    from tsp_spark.pipeline.text import gopher_filter

    clean = " ".join(f"word{i:03d}" for i in range(80))
    spam = " ".join(["click here to win big"] * 30)
    short = "just a few words here"
    longtok = " ".join(["antidisestablishmentarianism"] * 60)
    df = spark.createDataFrame(
        [(0, clean), (1, spam), (2, short), (3, longtok)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_filter(df, "text", "doc_id").collect()}
    assert rows[0]["keep"] and rows[0]["n_flags"] == 0
    assert rows[0]["first_flag"] is None
    assert not rows[1]["keep"]
    assert rows[1]["first_flag"].startswith(("top_", "dup_"))
    assert not rows[2]["keep"]
    assert rows[2]["first_flag"] == "too_few_tokens"
    assert not rows[3]["keep"] and rows[3]["n_flags"] >= 2

    # override: loosen every repetition threshold -> spam still dies on
    # nothing else, so it now keeps
    loose = gopher_filter(
        df, "text", "doc_id",
        thresholds={k: 1.1 for k in (
            "top_2gram_char_frac", "top_3gram_char_frac",
            "top_4gram_char_frac", "dup_5gram_char_frac",
            "dup_6gram_char_frac", "dup_7gram_char_frac",
            "dup_8gram_char_frac", "dup_9gram_char_frac",
            "dup_10gram_char_frac", "dup_line_frac",
            "dup_line_char_frac",
        )},
    )
    lr = {r["doc_id"]: r for r in loose.collect()}
    assert lr[1]["keep"]

    with pytest.raises(ValueError, match="unknown threshold"):
        gopher_filter(df, "text", "doc_id", thresholds={"nope": 0.5})


def test_gopher_paper_literal_and_collision_guard(spark):
    """r11 ADVICE: ``paper_literal_top_gram`` charges a count-1
    winning gram (Rae et al. A1's unconditional rule) where the
    default charges only >=2-occurrence winners; and
    with_gopher_repetition raises on reserved-name collisions instead
    of silently replacing caller columns."""
    import pytest

    from tsp_spark.pipeline.text import with_gopher_repetition

    text = "alpha beta gamma delta"
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    dflt, _ = with_gopher_repetition(df, "text")
    assert dflt.collect()[0]["top_2gram_char_frac"] == 0.0
    lit, _ = with_gopher_repetition(df, "text", paper_literal_top_gram=True)
    # every bigram occurs once; ties break to the longest rendered gram
    assert (
        lit.collect()[0]["top_2gram_char_frac"]
        == len("gamma delta") / len(text)
    )
    # a genuinely repeated gram charges identically under both modes
    rep = "a b a b a b"
    df2 = spark.createDataFrame([(0, rep)], "doc_id long, text string")
    d2, _ = with_gopher_repetition(df2, "text")
    l2, _ = with_gopher_repetition(df2, "text", paper_literal_top_gram=True)
    assert (
        d2.collect()[0]["top_2gram_char_frac"]
        == l2.collect()[0]["top_2gram_char_frac"]
    )

    for bad_name in ("__gp_toks", "top_3gram_char_frac"):
        bad = df.withColumn(bad_name, F.lit(1.0))
        with pytest.raises(ValueError, match="reserved"):
            with_gopher_repetition(bad, "text")


def test_quality_scorer_recovers_weights(spark):
    """Linear quality scorer (r10): the distributed sparse normal
    equations recover a planted linear model exactly (numpy lstsq
    parity), scoring matches a python dot product bit-for-bit, results
    are partition-independent, and the bias is unregularized."""
    import math
    import random
    from collections import Counter

    import numpy as np

    from tsp_spark.pipeline.curation import (
        score_quality,
        train_quality_scorer,
    )

    rng = random.Random(0x5C02E)
    dim = 32
    true_w = np.array([rng.uniform(-1, 1) for _ in range(dim + 1)])

    # build docs, then compute labels from the engine's own bucketing
    # (collect the buckets once) so the planted model is exact
    vocab = [f"w{i}" for i in range(50)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(300)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from pyspark.sql import functions as F

    bucket_rows = (
        df.select(
            "doc_id", F.explode(F.split("text", " ")).alias("t")
        )
        .select(
            "doc_id", F.pmod(F.xxhash64("t"), F.lit(dim)).alias("b")
        )
        .collect()
    )
    per_doc: dict[int, Counter] = {}
    for r in bucket_rows:
        per_doc.setdefault(r["doc_id"], Counter())[r["b"]] += 1
    xs = {}
    occupied = set()
    for d, _ in docs:
        x = np.zeros(dim + 1)
        for b, c in per_doc[d].items():
            x[b] = math.log1p(c)
            occupied.add(b)
        x[dim] = 1.0
        xs[d] = x
    # empty hash buckets are unidentifiable — plant 0 there so the
    # minimum-norm solution recovers the model exactly at l2=0
    for b in range(dim):
        if b not in occupied:
            true_w[b] = 0.0
    labels = {d: float(xs[d] @ true_w) for d, _ in docs}
    ldf = spark.createDataFrame(
        [(d, t, labels[d]) for d, t in docs],
        "doc_id long, text string, label double",
    )

    model = train_quality_scorer(ldf, "text", "label", dim=dim, l2=0.0)
    assert np.allclose(model["weights"], true_w, atol=1e-8)

    scored = {
        r["doc_id"]: r["quality"]
        for r in score_quality(ldf, "text", model).collect()
    }
    for d, _ in docs:
        assert abs(scored[d] - labels[d]) < 1e-8, d

    # partition independence of the training moments
    model2 = train_quality_scorer(
        ldf.repartition(7), "text", "label", dim=dim, l2=0.0
    )
    assert np.allclose(model2["weights"], true_w, atol=1e-8)

    # regularization shrinks non-bias weights, bias survives
    model_r = train_quality_scorer(ldf, "text", "label", dim=dim, l2=10.0)
    assert np.linalg.norm(model_r["weights"][:-1]) < np.linalg.norm(
        true_w[:-1]
    )

    # r11: the driver-safe dim guard (the old 65,536 cap admitted a
    # ~2e9-row collect + dim^3 solve that could not finish)
    with pytest.raises(ValueError, match="8192"):
        train_quality_scorer(ldf, "text", "label", dim=10_000)


def test_quality_classifier_matches_numpy_irls(spark):
    """Logistic quality classifier (r11): the distributed IRLS matches
    a dense numpy IRLS reference iterate-for-iterate, predictions
    separate a planted model's classes, results are partition-
    independent, and score_quality emits probabilities in (0, 1)."""
    import math
    import random
    from collections import Counter

    import numpy as np

    from tsp_spark.pipeline.curation import (
        score_quality,
        train_quality_classifier,
    )

    rng = random.Random(0xC1A55)
    dim = 16
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25))))
        for i in range(400)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bucket_rows = (
        df.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .select("doc_id", F.pmod(F.xxhash64("t"), F.lit(dim)).alias("b"))
        .collect()
    )
    per_doc: dict[int, Counter] = {}
    for r in bucket_rows:
        per_doc.setdefault(r["doc_id"], Counter())[r["b"]] += 1
    true_w = np.array([rng.uniform(-2, 2) for _ in range(dim + 1)])
    X = np.zeros((len(docs), dim + 1))
    for d, _ in docs:
        for b, c in per_doc[d].items():
            X[d, b] = math.log1p(c)
        X[d, dim] = 1.0
    # labels sampled from the planted model's own probabilities so the
    # data is NOT separable (separable logistic diverges at l2=0)
    y = np.array(
        [1.0 if rng.random() < 1 / (1 + math.exp(-m)) else 0.0
         for m in X @ true_w]
    )
    ldf = spark.createDataFrame(
        [(d, t, float(y[d])) for d, t in docs],
        "doc_id long, text string, label double",
    )

    l2, iters = 1e-3, 6
    model = train_quality_classifier(
        ldf, "text", "label", dim=dim, l2=l2, iters=iters, tol=0.0
    )

    # dense numpy IRLS, identical update rule
    reg = l2 * np.eye(dim + 1)
    reg[-1, -1] = 0.0
    w_ref = np.zeros(dim + 1)
    for _ in range(iters):
        p = 1 / (1 + np.exp(-(X @ w_ref)))
        s = np.maximum(p * (1 - p), 1e-10)
        gram = X.T @ (s[:, None] * X)
        grad = X.T @ (y - p)
        w_ref = w_ref + np.linalg.solve(gram + reg, grad - reg @ w_ref)
    assert np.allclose(model["weights"], w_ref, atol=1e-6)
    assert model["kind"] == "logistic" and model["iters_run"] == iters

    # partition independence
    model2 = train_quality_classifier(
        ldf.repartition(7), "text", "label", dim=dim, l2=l2,
        iters=iters, tol=0.0,
    )
    assert np.allclose(model2["weights"], model["weights"], atol=1e-9)

    # scoring: probabilities in (0,1) matching the numpy forward pass,
    # and the fitted model actually separates the planted classes
    scored = {
        r["doc_id"]: r["quality"]
        for r in score_quality(ldf, "text", model).collect()
    }
    p_ref = 1 / (1 + np.exp(-(X @ w_ref)))
    for d, _ in docs:
        assert 0.0 < scored[d] < 1.0
        assert abs(scored[d] - p_ref[d]) < 1e-8, d
    auc_pairs = [
        (scored[i], scored[j])
        for i in range(len(docs))
        for j in range(len(docs))
        if y[i] == 1.0 and y[j] == 0.0
    ]
    frac = sum(1 for a, b in auc_pairs if a > b) / len(auc_pairs)
    assert frac > 0.75  # well above chance on its own training set


def test_c4_clean_rules(spark):
    """c4_clean (r10): line-level terminal-punctuation / min-words /
    javascript rules and page-level sentence-count / lorem-ipsum /
    curly-brace verdicts, on hand-built pages."""
    from tsp_spark.pipeline.text import c4_clean

    good = (
        "this line ends with terminal punctuation properly today.\n"
        "another perfectly ordinary sentence with enough words here!\n"
        'a third one that asks a question with many words?'
    )
    pages = [
        (0, good),
        (1, good + "\nshort line."),            # dropped: < 5 words
        (2, good + "\nno terminal punctuation on this long line"),
        (3, good + "\nenable JavaScript to view this content."),
        (4, "one sentence only with plenty of words here."),  # < 3 sents
        (5, good + "\nlorem ipsum dolor sit amet consectetur."),
        (6, good + "\nvar f = function() { return 1; }."),
    ]
    df = spark.createDataFrame(pages, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in c4_clean(df, "text", "doc_id").collect()}

    assert rows[0]["keep"] and rows[0]["n_kept_lines"] == 3
    assert rows[0]["text_clean"] == good
    for d in (1, 2, 3):
        assert rows[d]["n_kept_lines"] == 3, d          # extra line dropped
        assert rows[d]["text_clean"] == good, d
    assert rows[1]["keep"] and rows[2]["keep"] and rows[3]["keep"]
    assert not rows[4]["keep"] and rows[4]["n_sentences"] == 1
    assert not rows[5]["keep"]          # lorem ipsum page
    assert not rows[6]["keep"]          # curly brace page


def test_map_only_operators_plan_shape(spark):
    """Plan-shape guards (r10): the operators documented as MAP-ONLY —
    Gopher battery, gopher_filter, C4 cleaner, encoding screens, and
    quality scoring — must compile to zero Exchange nodes, so they run
    at scan speed and compose with any partitioning at 100 TB. A
    refactor that sneaks a shuffle in fails here, not in a cluster."""
    from tsp_spark.pipeline.curation import score_quality
    from tsp_spark.pipeline.text import (
        c4_clean,
        encoding_quality,
        gopher_filter,
        gopher_repetition_signals,
    )

    df = spark.createDataFrame(
        [(0, "a b c a b c."), (1, "x y.\nx y.")],
        "doc_id long, text string",
    )

    def n_exchanges(frame) -> int:
        return (
            frame._jdf.queryExecution().executedPlan().toString()
        ).count("Exchange")

    import numpy as np

    model = {"weights": np.zeros(9), "dim": 8, "l2": 0.0}
    for name, frame in [
        ("gopher_signals", gopher_repetition_signals(df, "text", "doc_id")),
        ("gopher_filter", gopher_filter(df, "text", "doc_id")),
        ("c4_clean", c4_clean(df, "text", "doc_id")),
        ("encoding_quality", encoding_quality(df, "text", "doc_id")),
        ("score_quality", score_quality(df, "text", model)),
    ]:
        assert n_exchanges(frame) == 0, (name, frame._jdf.queryExecution()
                                         .executedPlan().toString()[:800])
        frame.collect()  # and they all actually evaluate


def test_sentence_span_dedup_brute_force(spark):
    """unit='sentence' span machinery (r11 — C4's three-sentence-span
    dedup half) vs a python brute force on adversarial corpora: shared
    boilerplate runs, within-doc repeats, '.'/'!'/'?' terminators,
    newline and space separators, trailing-whitespace identity (a span
    ending at end-of-text must match the same span mid-text). Seeded,
    deterministic."""
    import random
    import re
    from collections import defaultdict

    from tsp_spark.pipeline.dedup import trim_duplicated_spans

    def sentences(t: str) -> list[str]:
        return re.sub(r"([.!?])([\n ])", "\\1\\2\x1e", t).split("\x1e")

    rng = random.Random(0xC45)
    pool = [
        "alpha beta gamma.", "delta five six!", "seven eight nine?",
        "rho sigma tau.", "unique UNIQ end.",
    ]
    for trial in range(3):
        K = rng.choice([2, 3])
        docs = []
        for i in range(20):
            n = rng.randint(1, 7)
            sep = rng.choice([" ", "\n"])
            body = sep.join(
                rng.choice(pool).replace("UNIQ", f"u{i}x{j}")
                for j in range(n)
            )
            docs.append((i, body))

        cut = defaultdict(set)
        occs = defaultdict(list)
        sent_lists = {}
        for d, t in docs:
            s = sentences(t)
            sent_lists[d] = s
            for i in range(len(s) - K + 1):
                gram = tuple(x.rstrip(" \n") for x in s[i:i + K])
                occs[gram].append((d, i))
        for gram, lst in occs.items():
            if len(lst) < 2:
                continue
            canon = min(lst)
            for d, i in lst:
                if (d, i) != canon:
                    cut[d].update(range(i, i + K))
        expect = {}
        for d, t in docs:
            s = sent_lists[d]
            kept = [x for i, x in enumerate(s) if i not in cut[d]]
            expect[d] = ("".join(kept), len(kept), len(s))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["text_clean"], r["n_kept"], r["n_tokens"])
            for r in trim_duplicated_spans(
                df, "text", "doc_id", k=K, keep_first=True, unit="sentence"
            ).collect()
        }
        assert got == expect, (trial, K)
        # a fully-kept document rebuilds byte-losslessly
        full = [d for d, t in docs if not cut[d]]
        assert full and all(expect[d][0] == dict(docs)[d] for d in full)


def test_c4_full_clean_composition(spark):
    """c4_full_clean (r11) = c4_clean line/page rules THEN corpus-wide
    keep-first three-sentence dedup: line filtering happens BEFORE
    sentence spans (a span across a dropped line is contiguous in the
    page), one canonical copy of shared boilerplate survives, and a
    page whose sentences are all unique passes through unchanged."""
    from pyspark.sql import functions as F

    from tsp_spark.pipeline.text import c4_full_clean

    boiler = (
        "all rights reserved to us today.\n"
        "use of this site implies consent.\n"
        "subscribe to the weekly mailing list."
    )
    docs = [
        # unique page, enough sentences, survives whole
        (1, "alpha beta gamma delta epsilon one.\n"
            "zeta eta theta iota kappa two.\n"
            "lambda mu nu xi omicron three.\n" + boiler),
        # same boilerplate -> its 3-sentence span trims here
        (2, "first second third fourth fifth alt.\n"
            "sixth seventh eighth ninth tenth alt.\n"
            "hello world this is doc two.\n" + boiler),
        # short lines dropped by the LINE rule, then boilerplate trims
        (3, "tiny line.\nanother small.\n" + boiler),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in c4_full_clean(df, "text", "doc_id").collect()
    }
    # doc 1 is canonical (min doc_id): keeps everything incl. boilerplate
    assert out[1]["dup_sentences"] == 0
    assert out[1]["n_kept"] == out[1]["n_sentences"]
    assert "subscribe to the weekly mailing list." in out[1]["text_clean"]
    # doc 2 loses exactly the 3 boilerplate sentences
    assert out[2]["dup_sentences"] == 3
    assert "all rights reserved" not in out[2]["text_clean"]
    assert "hello world this is doc two." in out[2]["text_clean"]
    # doc 3: the two short lines fall to the LINE rule (not the span
    # machinery), the boilerplate then trims as a duplicated span
    assert out[3]["n_lines"] == 5 and out[3]["n_kept_lines"] == 3
    assert out[3]["n_kept"] == 0 and out[3]["text_clean"] == ""


def test_cosine_topk_query_size_guard(spark):
    """r13 (VERDICT r12 watch #3): the exact brute-force cosine_topk
    broadcasts the query side — past max_query_rows it fails fast with
    a pointer to the scale paths (ann_ivf_topk / lsh_bucket_topk)
    instead of silently building an n×m scan; None overrides."""
    import pytest

    from tsp_spark.pipeline.similarity import cosine_topk

    rows = [(i, [float(i % 7), 1.0, 2.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="ann_ivf_topk"):
        cosine_topk(df, df, max_query_rows=10)
    # within the bound, and with an explicit override, it runs
    ok = cosine_topk(df, df.limit(5), k=3, max_query_rows=10)
    assert ok.count() == 15
    forced = cosine_topk(df, df, k=3, max_query_rows=None)
    assert forced.count() == 90


def test_minhash_one_partition_input_is_not_shuffled_round_robin(
    spark, monkeypatch
):
    """A one-partition input (a streaming near-dup micro-batch is one)
    goes straight into the signature pipeline: no round-robin shuffle
    up to the session's parallelism is planned ahead of it."""
    from pyspark.sql.classic.dataframe import DataFrame

    from tsp_spark.pipeline.dedup import minhash_lsh_pairs

    # a checkpoint cuts its input's plan out of the final one, so the
    # plan of every checkpointed frame is recorded too
    plans = []
    orig = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    # a range source, not createDataFrame: its size estimate is small
    df = spark.range(8).selectExpr(
        "id AS doc_id", "concat('tok', id % 3, ' alpha beta gamma') AS text"
    ).coalesce(1)
    out = minhash_lsh_pairs(df, "text", "doc_id")
    plans.append(out._jdf.queryExecution().executedPlan().toString())
    for plan in plans:
        assert "RoundRobinPartitioning" not in plan, plan
