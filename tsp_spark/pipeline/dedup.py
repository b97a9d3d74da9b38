"""Deduplication operators.

Scale design notes:
* exact_dedup — hash groupBy on the text itself; at 100 TB group on
  xxhash64(text) first (cheap shuffle key), verifying exact equality
  within hash groups (collision-safe).
* jaccard_pairs — exact Jaccard within caller-chosen buckets (e.g.
  source/lang). Default candidate generation is PREFIX FILTERING
  (SSJoin/PPJoin): an equi-join on each doc's rarest
  |d| − ⌈t·|d|⌉ + 1 tokens in document-frequency order —
  result-identical to all-pairs, linear shuffles, verification work
  ∝ Σ prefix-bucket². The legacy per-bucket all-pairs join remains as
  strategy="allpairs". For approximate dedup on unbounded corpora use
  minhash_lsh_pairs.
* minhash_lsh_pairs — the 100 TB path: shingle → minhash signature →
  band hashes → candidate pairs via an equi-join on (band, band_hash)
  (a plain shuffle join, no cross product), then exact signature
  agreement as the similarity estimate.
* simhash_pairs — banded SimHash near-dup (r8): Hamming ≤ k pairs via
  an equi-join on fingerprint bands (pigeonhole recall guarantee) and
  an exact popcount filter; portable md5 hashing so the DuckDB oracle
  reproduces the fingerprints bit-exactly.
* duplicated_span_stats — exact-substring duplication (r9, Lee et al.
  k-gram form): grams hashed to 8-byte longs inside a transform()
  BEFORE any explode, one corpus-wide gram groupBy, one semi-join back
  to positions, keyed per-doc window merge. Linear shuffles; the
  distributed stand-in for a suffix array at ≥ k-token granularity.

All JVM-side (higher-order array functions + xxhash64); no Python UDFs.
"""

from __future__ import annotations

import random
import warnings
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^31−1: universal-hash prime small enough that a·h + b stays inside a
# 64-bit long (a, h' < 2^31 → product < 2^62)
_MERSENNE = (1 << 31) - 1


def minhash_perms(num_perm: int, seed: int) -> list[tuple[int, int]]:
    """The (a, b) universal-hash constants for a MinHash signature —
    exposed so the DuckDB oracle embeds the identical constants."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_perm)
    ]


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct text: representative = min id, plus copy count.

    The group key leads with xxhash64(text): map-side partial
    aggregation collapses duplicates before the shuffle either way, but
    the leading 8-byte hash makes every exchange/sort/agg key
    comparison O(1) instead of O(text length) — on multi-KB documents
    at 100 TB that is the difference between comparing longs and
    memcmp'ing kilobytes per row. Exact text equality still gates the
    group (the hash is a prefix, not a substitute), so a 64-bit
    collision can't merge two distinct documents."""
    return (
        df.groupBy(F.xxhash64(F.col(text_col)).alias("__h"), F.col(text_col))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


def _token_set(text_col: Column) -> Column:
    """Distinct 64-bit token hashes: set operations on longs run ~2×
    faster than on strings, and |A∩B| / |A∪B| is unchanged barring a
    64-bit xxhash collision between two distinct tokens inside one
    document pair (probability ≪ 1e-12 at realistic vocab sizes)."""
    return F.array_distinct(
        F.transform(F.split(text_col, " "), lambda t: F.xxhash64(t))
    )


def _bucket_guard(
    t: DataFrame,
    bucket_cols: Sequence[str],
    max_n: int,
    consumed_col: str,
    caller: str,
    hint: str,
) -> DataFrame:
    """Distributed fail-fast on oversized buckets (shared by every
    bucketed self-join here): a window count over the bucket key — the
    same exchange the self-join needs anyway — folded into a column
    the join actually consumes so it is never pruned. An over-limit
    bucket fails the job with an actionable message instead of going
    silently quadratic at 100 TB."""
    dt = t.schema[consumed_col].dataType.simpleString()
    # r14 (guide §5.3): one F.expr string — identical parsed tree
    def q(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    bucket_n = (
        "count(1) OVER (PARTITION BY "
        + ", ".join(f"`{c}`" for c in bucket_cols)
        + ")"
    )
    casts = ", ".join(f"CAST(`{c}` AS STRING)" for c in bucket_cols)
    head = q(f"{caller} bucket holds more than {max_n} rows (bucket ")
    tail = q(
        f"): the per-bucket self-join would go quadratic. {hint}"
    )
    return t.withColumn(
        consumed_col,
        F.expr(
            f"CASE WHEN {bucket_n} > {max_n} THEN "
            f"CAST(raise_error(concat('{head}', concat_ws(',', {casts}), "
            f"'{tail}')) AS {dt}) ELSE `{consumed_col}` END"
        ),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bucket_cols: Sequence[str],
    threshold: float = 0.6,
    max_bucket_size: int | None = 10_000,
    length_bands: bool = False,
    strategy: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-set Jaccard within buckets:
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    ``strategy=None`` resolves to ``"prefix"`` unless
    ``length_bands=True`` (a bands-only request means the allpairs
    join the flag shapes — pre-r8 caller compatibility).

    ``strategy="prefix"`` (default, r8): prefix-filtered candidate
    generation (Chaudhuri et al. SSJoin / Xiao et al. PPJoin). Under
    any global token order, J(A,B) ≥ t forces the two docs to share a
    token inside each doc's first ``|d| − ⌈t·|d|⌉ + 1`` tokens of that
    order (pigeonhole on the overlap lower bound ⌈t·|d|⌉), so
    candidates come from an EQUI-JOIN on (bucket…, prefix-token)
    instead of the per-bucket cross join — linear shuffles end to end,
    with the verification work proportional to Σ prefix-bucket² rather
    than Σ bucket². The global order is document-frequency ascending
    (ties by token hash): rare tokens fill the prefixes, so a common
    token never fans out a large candidate block. Result-identical to
    all-pairs — the final exact-Jaccard filter is unchanged and the
    prefix lemma guarantees no qualifying pair is skipped
    (property-tested against the all-pairs strategy).

    ``strategy="allpairs"``: the per-bucket self-join, O(bucket²) —
    correct only while the caller's bucket columns keep buckets
    bounded. That contract is ENFORCED at runtime — any bucket over
    ``max_bucket_size`` docs fails the job fast (executor-side
    `raise_error`, no silent quadratic blowup at 100 TB) with a
    pointer to minhash_lsh_pairs. Pass a higher limit or None to
    override deliberately. In prefix mode the same guard watches
    (bucket…, prefix-token) blocks instead — a degenerate corpus
    where one rare token floods prefixes fails fast too.

    ``length_bands=True`` (allpairs only) additionally equi-joins on a
    token-count band (see the theorem note below) — provably
    result-identical (property-tested against brute force), and worth
    it only when a bucket's doc lengths span decades so adjacent-band
    products are far below bucket². On length-uniform corpora
    everything lands in one band and the 3× probe-side fan-out is pure
    overhead (measured ~15% slower on the bench corpus; default off)."""
    if strategy is None:
        # default resolution keeps pre-r8 callers working: the
        # length_bands flag only shapes the allpairs join, so a caller
        # who asks for bands without naming a strategy means allpairs
        # (r8 made 'prefix' the default and briefly broke that call)
        strategy = "allpairs" if length_bands else "prefix"
    if strategy not in ("prefix", "allpairs"):
        raise ValueError(f"strategy must be 'prefix' or 'allpairs', got {strategy!r}")
    if strategy == "prefix":
        if length_bands:
            # silently ignoring an explicit tuning request is worse
            # than failing (review-caught): the flag only shapes the
            # allpairs join
            raise ValueError(
                "length_bands=True applies only to strategy='allpairs' "
                "(the prefix strategy prunes by the same theorem already)"
            )
        return _jaccard_pairs_prefix(
            df, text_col, id_col, bucket_cols, threshold, max_bucket_size
        )
    # token-set size hoisted per row; |A ∪ B| = |A| + |B| − |A ∩ B|
    # avoids materializing the union array per pair (same exact value —
    # both sides are distinct arrays)
    t = df.select(
        *bucket_cols,
        F.col(id_col).alias("__id"),
        _token_set(F.col(text_col)).alias("__ws"),
    ).withColumn("__n", F.size(F.col("__ws")))
    if max_bucket_size is not None:
        t = _bucket_guard(
            t, bucket_cols, max_bucket_size, "__n", "jaccard_pairs",
            "Use minhash_lsh_pairs for unbounded corpora, or raise "
            "max_bucket_size deliberately.",
        )
    # length-band refinement of the same theorem the ratio prune uses:
    # J ≥ t ⇒ min/max set size ≥ t ⇒ the log_{1/t}(|set|) bands of a
    # surviving pair differ by ≤ 1 — so instead of the full per-bucket
    # cross join, the probe side fans out to its own band ±1 and
    # equi-joins on (bucket, band). Join blocks shrink from bucket² to
    # Σ adjacent-band products (a large factor on real corpora whose
    # lengths span decades; result-identical because the ratio filter
    # below is strictly tighter). The base uses (t − 1e-6) so the
    # ratio filter's own float slack can never strand a kept pair two
    # bands apart.
    use_bands = length_bands and 0.0 < threshold < 1.0
    if use_bands:
        import math

        base = math.log(1.0 / max(threshold - 1e-6, 1e-9))
        t = t.withColumn(
            "__band",
            F.floor(
                F.log(F.greatest(F.col("__n"), F.lit(1)).cast("double"))
                / F.lit(base)
            ).cast("int"),
        )
    a = t.select(
        *bucket_cols, F.col("__id").alias("id_a"),
        F.col("__ws").alias("__wa"), F.col("__n").alias("__na"),
        *([F.col("__band").alias("__ba")] if use_bands else []),
    )
    b = t.select(
        *bucket_cols, F.col("__id").alias("id_b"),
        F.col("__ws").alias("__wb"), F.col("__n").alias("__nb"),
        *([F.col("__band").alias("__probe")] if use_bands else []),
    )
    # size-ratio prune BEFORE the O(|A|·|B|) intersect: J(A,B) ≤
    # min(|A|,|B|)/max(|A|,|B|) (intersection ≤ the smaller set, union ≥
    # the larger), so pairs whose length ratio already caps J below the
    # threshold never pay for array_intersect. The 1e-9 slack keeps
    # boundary pairs despite float rounding; the prune is implied by the
    # J ≥ t filter below, so results are identical.
    ratio_ok = (
        F.least(F.col("__na"), F.col("__nb")).cast("double")
        >= F.lit(threshold) * F.greatest(F.col("__na"), F.col("__nb")) - 1e-9
    )
    if use_bands:
        a = a.withColumn(
            "__probe",
            F.explode(
                F.array(
                    F.col("__ba") - 1, F.col("__ba"), F.col("__ba") + 1
                )
            ),
        ).drop("__ba")
        join_keys = [*bucket_cols, "__probe"]
    else:
        join_keys = list(bucket_cols)
    joined = a.join(b, on=join_keys).where(
        (F.col("id_a") < F.col("id_b")) & ratio_ok
    )
    inter = F.size(F.array_intersect(F.col("__wa"), F.col("__wb")))
    union = F.col("__na") + F.col("__nb") - inter
    j = inter.cast("double") / union
    return (
        joined.select("id_a", "id_b", j.alias("jaccard"))
        .where(F.col("jaccard") >= F.lit(threshold))
    )


def _jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bucket_cols: Sequence[str],
    threshold: float,
    max_bucket_size: int | None,
) -> DataFrame:
    """Prefix-filtered Jaccard self-join (see jaccard_pairs docstring).

    Plan shape (every stage linear in corpus tokens):
      1. token sets + sizes per doc (one projection);
      2. explode to (doc, token) — linear;
      3. token document frequency: one groupBy(token) — the corpus
         vocabulary table;
      4. join frequencies back (shuffle on token) and keep each doc's
         ``|d| − ⌈t·|d|⌉ + 1`` lowest-(df, token) entries via a
         row_number window partitioned by doc — shuffle on doc id;
      5. candidate pairs: equi-join of the LEVEL-2 prefix table with
         itself on (bucket…, token), a < b, size-ratio + PPJoin
         positional filters as join predicates, then a per-pair
         match-count ≥ min(2, ⌈α⌉) filter (the l-prefix lemma; the
         groupBy replaces the old dropDuplicates shuffle) — all
         lossless;
      6. verification: join the two docs' token sets back by id, then
         the size-ratio prune and the exact-Jaccard filter (identical
         to the all-pairs path, so results match exactly).
    The ⌈t·n⌉ bound subtracts 1e-9 before ceil so float rounding can
    only ENLARGE a prefix (safe), never shrink it (which could drop a
    qualifying pair).

    The tokenized table ``t`` is localCheckpointed (r14): three
    subtrees consume it (the explode feeding the token-frequency
    groupBy, the same explode joined back for the prefix window, and
    the verification stage's token sets), and without materialization
    each one re-scans the corpus and re-tokenizes (split + distinct)
    it — measured 3.13 → 2.41 s at sf0.1 from one change. At 100 TB
    the trade is the same one the PPJoin literature makes (materialize
    the sorted token lists once): one write of the tokenized corpus
    replaces two extra full scans + tokenizations, at the documented
    localCheckpoint executor-loss cost."""
    t = df.select(
        *bucket_cols,
        F.col(id_col).alias("__id"),
        _token_set(F.col(text_col)).alias("__ws"),
    ).withColumn("__n", F.size(F.col("__ws")))
    # executor-loss trade: PatternCompiler.compile_intervals_multi note
    t = t.localCheckpoint(eager=True)
    # LEVEL-2 prefix (r12, sf10-soak-found): with short Zipf documents
    # at t=0.6, classic 1-prefixes pass ~74M candidate pairs for ~10k
    # true pairs at sf10 (pairs share ~1.01 prefix tokens on average) —
    # verification then hauls token arrays for all of them. The l-prefix
    # lemma (AdaptJoin, Wang et al. SIGMOD'12 §3; proof: the l-th
    # smallest common token has at least m−l common tokens after it, so
    # it sits within the first |d|−⌈t·|d|⌉+l positions of BOTH docs)
    # says a qualifying pair shares ≥ l tokens of the (|d|−⌈t|d|⌉+l)-
    # prefixes whenever its required overlap ⌈α⌉ ≥ l. One extra prefix
    # token per doc + a ≥min(2, ⌈α⌉) match-count filter cut sf10
    # candidates 74.2M → 1.59M (47×) measured.
    prefix_len = (
        F.col("__n")
        - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
        + F.lit(2)
    )
    ex = t.select(
        *bucket_cols, "__id", "__n", prefix_len.alias("__p"),
        F.explode(F.col("__ws")).alias("__tok"),
    )
    freq = ex.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql import Window

    w = Window.partitionBy("__id").orderBy("__df", "__tok")
    pref = (
        ex.join(freq, on="__tok")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.col("__p"))
        # __pos: the token's 0-based position in the doc's FULL
        # (df, token)-sorted list — the PPJoin positional filter's input
        .select(
            *bucket_cols, "__id", "__n",
            (F.col("__rn") - F.lit(1)).alias("__pos"), "__tok",
        )
    )
    if max_bucket_size is not None:
        pref = _bucket_guard(
            pref, [*bucket_cols, "__tok"], max_bucket_size, "__id",
            "jaccard_pairs[prefix]",
            "A single prefix token fans out a quadratic candidate "
            "block (degenerate near-identical corpus) — collapse exact "
            "duplicates first, use minhash_lsh_pairs, or raise "
            "max_bucket_size deliberately.",
        )
    # size-ratio prune INSIDE the candidate join (r11, sf10-soak-found):
    # J ≥ t ⟹ t·max(|A|,|B|) ≤ min(|A|,|B|), the same theorem the
    # verification stage applies — but applied there it runs AFTER
    # 100M+ candidate rows materialize, dedupe and haul both token
    # arrays through a shuffle (measured at the sf10 soak: candidates
    # grow ~n^1.4 on a Zipf corpus — 4.0M at sf1 → 101.9M at sf10 —
    # and verification dominated the 95.9× wall-clock blowup). As a
    # join-ON predicate over the two int size columns it cuts the
    # candidate block BEFORE the dedupe shuffle and the array join.
    # PPJoin positional filter (r12, VERDICT r11 Next #4; Xiao et al.,
    # "Efficient Similarity Joins for Near Duplicate Detection", WWW'08
    # §3.2): every doc's tokens are sorted by the SAME total order
    # (df, token), so a match at 0-based positions (pa, pb) splits the
    # overlap into a head (tokens before the match in both — at most
    # min(pa, pb)) and a tail (the match plus what follows — at most
    # 1 + min(|A|−pa−1, |B|−pb−1)). J ≥ t requires overlap ≥
    # α = t·(|A|+|B|)/(1+t); a matched token whose positional bound
    # can't reach α is dropped BEFORE the dedupe shuffle. Lossless: a
    # truly qualifying pair satisfies the bound at EVERY common token
    # (α ≤ true overlap ≤ bound), so all its candidate rows survive.
    # The r11 size-ratio prune bought the sf10 decade (1.7×
    # per-output-row drift); this is the named next filter.
    pos_bound = (
        F.least("__ppa", "__ppb")
        + F.lit(1)
        + F.least(
            F.col("__pna") - F.col("__ppa") - F.lit(1),
            F.col("__pnb") - F.col("__ppb") - F.lit(1),
        )
    ).cast("double")
    alpha = (
        F.lit(threshold / (1.0 + threshold))
        * (F.col("__pna") + F.col("__pnb")).cast("double")
    )
    cand = (
        pref.select(
            *bucket_cols, F.col("__id").alias("id_a"),
            F.col("__n").alias("__pna"), F.col("__pos").alias("__ppa"),
            "__tok",
        )
        .join(
            pref.select(
                *bucket_cols, F.col("__id").alias("id_b"),
                F.col("__n").alias("__pnb"), F.col("__pos").alias("__ppb"),
                "__tok",
            ),
            on=[*bucket_cols, "__tok"],
        )
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("__pna", "__pnb").cast("double")
                >= F.lit(threshold)
                * F.greatest("__pna", "__pnb").cast("double")
                - F.lit(1e-9)
            )
            & (pos_bound >= alpha - F.lit(1e-9))
        )
        # the l=2 match-count filter: groupBy REPLACES the old
        # dropDuplicates (same shuffle, same keys) and counts matched
        # prefix tokens per pair; min(2, ⌈α⌉) keeps tiny-doc pairs
        # (⌈α⌉ = 1 ⇔ |A|+|B| < 2(1+t)/t) on the 1-match rule
        .groupBy("id_a", "id_b", "__pna", "__pnb")
        .agg(F.count(F.lit(1)).alias("__mc"))
        # __pna/__pnb survive as groupBy keys, so `alpha` (defined once
        # above) is reused verbatim — one spelling of the overlap bound
        .where(F.col("__mc") >= F.least(F.lit(2), F.ceil(alpha - F.lit(1e-9))))
        .select("id_a", "id_b")
    )
    sets = t.select("__id", "__ws", "__n")
    joined = cand.join(
        sets.select(
            F.col("__id").alias("id_a"),
            F.col("__ws").alias("__wa"),
            F.col("__n").alias("__na"),
        ),
        on="id_a",
    ).join(
        sets.select(
            F.col("__id").alias("id_b"),
            F.col("__ws").alias("__wb"),
            F.col("__n").alias("__nb"),
        ),
        on="id_b",
    )
    ratio_ok = (
        F.least(F.col("__na"), F.col("__nb")).cast("double")
        >= F.lit(threshold) * F.greatest(F.col("__na"), F.col("__nb")) - 1e-9
    )
    inter = F.size(F.array_intersect(F.col("__wa"), F.col("__wb")))
    union = F.col("__na") + F.col("__nb") - inter
    j = inter.cast("double") / union
    return (
        joined.where(ratio_ok)
        .select("id_a", "id_b", j.alias("jaccard"))
        .where(F.col("jaccard") >= F.lit(threshold))
    )


def _local_star_forest(edges: DataFrame) -> DataFrame:
    """Finish the contraction in ONE narrow task once the edge set fits
    a single partition: union-find with min-root union and path
    compression over the whole (coalesced) edge set, emitting the same
    canonical min-centered star forest the star rounds converge to —
    identical components, identical labels, zero further shuffles."""
    import numpy as np
    import pandas as pd

    def uf(it):
        parts = [
            (pdf["a"].to_numpy(np.int64), pdf["b"].to_numpy(np.int64))
            for pdf in it
        ]
        if not parts:
            yield pd.DataFrame({"a": [], "b": []}).astype("int64")
            return
        aa = np.concatenate([p[0] for p in parts])
        bb = np.concatenate([p[1] for p in parts])
        # dense remap: np.unique is sorted, so smaller dense index ⟺
        # smaller doc id — union-by-smaller-root in dense space IS
        # union-by-min-id, giving component-min labels directly
        ids = np.unique(np.concatenate([aa, bb]))
        da = np.searchsorted(ids, aa)
        db = np.searchsorted(ids, bb)
        parent = np.arange(len(ids), dtype=np.int64)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for i in range(len(da)):
            ra, rb = find(da[i]), find(db[i])
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        # full-resolve: repeated pointer jumping to the fixpoint
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        mask = parent != np.arange(len(ids))
        yield pd.DataFrame({"a": ids[mask], "b": ids[parent[mask]]})

    return edges.coalesce(1).mapInPandas(uf, "a long, b long")


def neardup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 60,
    pairs_distinct: bool = False,
    local_finish_edges: int = 2_000_000,
    stats_sink: dict | None = None,
) -> DataFrame:
    """Near-duplicate cluster assignment: connected components over the
    undirected ``pairs`` graph (id_a, id_b, …), label = the component's
    minimum id. Returns (``id_col``, cluster_id, is_representative).

    Alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): large-star hangs
    every larger neighbor off its neighborhood's minimum, small-star
    re-points the smaller neighbors — the edge set converges to a star
    forest whose centers are the component minima in O(log n) rounds,
    vs O(component diameter) for plain min-label propagation, so deep
    chain components can't serialize the job and round counts (hence
    wall time) stop swinging run-to-run. All loop tables are sized by
    the CURRENT edge set only — isolated docs (the vast majority of a
    near-dup corpus) never enter the loop and join back at the end.
    ``localCheckpoint`` truncates lineage each round; convergence is
    detected by testing the star-forest property DIRECTLY on each
    round's output (unique sources, sources never centers — see inline
    note), which stops one full star round earlier than waiting for two
    identical consecutive edge sets.

    ``max_iter`` is a runaway bound, not a tuning knob: the fixpoint
    test stops the loop as soon as the edge set is a star forest, and
    rounds grow with log2(component diameter) — the r13 giant-component
    soak (tools/soak_clusters_giant.py) measured a 5M-node PATH (the
    adversarial maximum diameter) converging in exactly 23 rounds
    (log2(5M) ≈ 22.3), labels correct. The old default of 25 sat one
    round above that; 60 covers diameters past 10^18 while costing
    nothing on real graphs (near-dup components converge in 2-5).

    ``stats_sink`` (r13): pass a dict to receive convergence telemetry —
    ``rounds`` (distributed star rounds run), ``edge_counts`` (edge-set
    size after each round; counts are ~free, the set is checkpoint-
    materialized by the convergence probe), ``local_finish`` (whether
    the single-task union-find closed the tail), ``initial_edges``.
    Used by the giant-component soak (tools/soak_clusters_giant.py) to
    adjudicate rounds-to-converge and contraction rate at scale.
    """
    # canonical undirected form: a > b, no self-loops, deduped.
    # ``pairs_distinct=True`` skips the dedup shuffle over the FULL
    # input edge set — the single biggest table this function touches —
    # when the producer guarantees uniqueness (a bucketed a<b self-join
    # like jaccard_pairs emits each pair once; banded MinHash does NOT:
    # a pair surfaces once per agreeing band, so it keeps the distinct).
    edges = pairs.select(
        F.greatest("id_a", "id_b").alias("a"),
        F.least("id_a", "id_b").alias("b"),
    ).where(F.col("a") != F.col("b"))
    if not pairs_distinct:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=True)
    if stats_sink is not None:
        stats_sink.update(
            initial_edges=edges.count(), rounds=0, edge_counts=[],
            local_finish=False,
        )
    converged = False
    for _ in range(max_iter):
        # size-gated single-task finish (the classic hybrid): once the
        # edge set fits one partition, a union-find pass in ONE narrow
        # task replaces every remaining star round — at 100 TB the star
        # rounds contract the graph logarithmically until it crosses
        # this threshold (~32 MB of int64 pairs), then the tail rounds'
        # shuffle overhead disappears. count() is ~free: the edge set
        # is checkpoint-materialized either way. Integer ids only: the
        # numpy union-find packs ids as int64, while the star rounds
        # handle any orderable id type — non-integer ids (UUID strings)
        # just keep iterating the star rounds to the fixpoint
        # (review-caught: the local finish used to crash on them).
        int_ids = edges.schema["a"].dataType.simpleString() in (
            "tinyint", "smallint", "int", "bigint"
        )
        if int_ids and edges.count() <= local_finish_edges:
            edges = _local_star_forest(edges)
            converged = True
            if stats_sink is not None:
                stats_sink["local_finish"] = True
            break
        # large-star: for each u, m = min(N(u) ∪ {u}); connect every
        # neighbor v > u to m. Output is canonical (v > m) by
        # construction since m ≤ u < v.
        bi = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mn = (
            bi.groupBy("a")
            .agg(F.min("b").alias("__mb"))
            .select("a", F.least("a", "__mb").alias("m"))
        )
        ls = (
            bi.where(F.col("b") > F.col("a"))
            .join(mn, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        # small-star on the larger→smaller orientation: m = min of u's
        # smaller neighbors (< u); re-point each smaller neighbor and u
        # itself at m.
        sm = ls.groupBy("a").agg(F.min("b").alias("m"))
        j = ls.join(sm, "a")
        ss = j.select(F.col("b").alias("x"), F.col("m").alias("y")).union(
            j.select(F.col("a").alias("x"), F.col("m").alias("y"))
        )
        # lazy checkpoint: the convergence probe below is the action
        # that materializes it, so each round costs ONE full Spark job
        # (an eager checkpoint would add a second full pass per round)
        edges = (
            ss.select(
                F.greatest("x", "y").alias("a"), F.least("x", "y").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # direct star-forest fixpoint test instead of compare-to-previous
        # hashing: a canonical edge set (a > b) is a min-centered star
        # forest ⟺ every source a appears exactly ONCE and no source is
        # also a center (a ∩ b = ∅) — centers are then automatically the
        # component minima since b < a on every edge. Testing the
        # property on THIS round's output stops one full round earlier
        # than waiting for two identical consecutive edge sets; the two
        # probe jobs scan the (already tiny, post-contraction) edge set
        # instead of re-running the 4-shuffle star round to confirm.
        multi_source = (
            edges.groupBy("a").agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") > 1)
        )
        source_is_center = edges.join(
            edges.select(F.col("b").alias("a")), "a", "left_semi"
        )
        if stats_sink is not None:
            stats_sink["rounds"] += 1
            stats_sink["edge_counts"].append(edges.count())
        if multi_source.isEmpty() and source_is_center.isEmpty():
            converged = True
            break
    if not converged:
        warnings.warn(
            f"neardup_clusters: star-contraction did not reach its "
            f"fixpoint within max_iter={max_iter} rounds — cluster labels "
            f"may be non-minimal for the deepest components",
            RuntimeWarning,
            stacklevel=2,
        )
    # star forest → labels: every non-center node carries exactly one
    # edge to its component's minimum; centers and isolated docs label
    # themselves via the coalesce below.
    labels = edges.groupBy(F.col("a").alias("__nid")).agg(
        F.min("b").alias("__lbl")
    )
    out = df.select(F.col(id_col).alias("__nid")).distinct().join(
        labels, on="__nid", how="left"
    )
    lbl = F.coalesce(F.col("__lbl"), F.col("__nid"))
    return out.select(
        F.col("__nid").alias(id_col),
        lbl.alias("cluster_id"),
        (F.col("__nid") == lbl).cast("long").alias("is_representative"),
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    bucket_cols: Sequence[str],
    threshold: float = 0.9,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine within buckets:
    (id_a, id_b, cosine) with id_a < id_b and cosine >= threshold.

    Buckets bound the all-pairs join (like jaccard_pairs, and with the
    SAME runtime guard — an over-``max_bucket_size`` bucket fails fast
    instead of going silently quadratic); for unbounded corpora bucket
    by LSH signatures first (similarity.lsh_bucket_topk's hyperplane
    signature works as a bucket column)."""
    from tsp_spark.pipeline.similarity import _as_double, _dot, _norm

    # norm computed once per vector before the join (not per pair);
    # identical expression shape keeps the cosine bit-identical
    t = df.select(
        *bucket_cols,
        F.col(id_col).alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__n", _norm(F.col("__v")))
    if max_bucket_size is not None:
        t = _bucket_guard(
            t, bucket_cols, max_bucket_size, "__n",
            "embedding_neardup_pairs",
            "Bucket by an LSH signature first "
            "(similarity.lsh_bucket_topk), or raise max_bucket_size "
            "deliberately.",
        )
    a = t.select(
        *bucket_cols, F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = t.select(
        *bucket_cols, F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    joined = a.join(b, on=list(bucket_cols)).where(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return joined.select(
        "id_a", "id_b", F.round(cos, 4).alias("cosine")
    ).where(F.col("cosine") >= F.lit(threshold))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_band_bucket: int | None = 10_000,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates.

    Pipeline: tokens → k-shingles → md5 token hashes combined
    arithmetically mod 2^31−1 (``_MERSENNE``) → ``num_perm`` universal
    hashes (a·h+b mod 2^31−1) minimized per doc → split signature into
    ``bands`` → explode band hashes → self-join on (band, hash) →
    estimated Jaccard = signature agreement fraction ≥ threshold.

    The explode produces bands·n rows — linear, and the join key
    (band_idx, band_hash) is high-cardinality on ORGANIC text, so this
    scales where all-pairs cannot. The degenerate case is
    identical-signature groups (exact boilerplate copies, empty
    docs): k identical docs put k rows in the same band bucket in
    EVERY band, and the equi-join goes quadratic in k — so band
    buckets carry the same runtime guard as jaccard_pairs
    (``max_band_bucket``, fail-fast with an actionable message;
    review-caught). Pre-collapsing exact duplicates
    (exact_duplicates) removes the legitimate source of such groups.
    """
    with_sig, exploded = _minhash_bands(
        df, text_col, id_col, num_perm, bands, shingle_k, seed
    )
    # Materialize the signatures once (r14): three subtrees consume
    # with_sig (the band explosion plus the two signature join-backs),
    # and each would otherwise re-run the whole signature pipeline —
    # md5 per token, shingle combination, explode, 32-way min-agg —
    # the dominant cost of this operator. The streaming ingest path
    # (_neardup_process_batch) has always checkpointed its signatures
    # for the same reason; the batch path now matches. Tiny table:
    # one row per doc, num_perm longs.
    # executor-loss trade: PatternCompiler.compile_intervals_multi note
    with_sig = with_sig.localCheckpoint(eager=True)
    exploded = with_sig.selectExpr(
        "__id", "__sig",
        f"explode({_band_structs_sql(num_perm, bands)}) AS b",
    ).selectExpr("__id", "__sig", "b.band AS band", "b.bhash AS bhash")
    if max_band_bucket is not None:
        exploded = _bucket_guard(
            exploded, ["band", "bhash"], max_band_bucket, "__id",
            "minhash_lsh_pairs",
            "Identical-signature groups (exact boilerplate / empty "
            "docs) make the band join quadratic — collapse exact "
            "duplicates first (exact_duplicates), or raise "
            "max_band_bucket deliberately.",
        )

    a = exploded.selectExpr("band", "bhash", "__id AS id_a")
    b = exploded.selectExpr("band", "bhash", "__id AS id_b")
    # candidate ids first, signatures joined back after the dedup —
    # shuffling bare (long, long) pairs instead of dragging two
    # 32-element arrays through the join and dropDuplicates (~2× faster)
    pair_ids = (
        a.join(b, on=["band", "bhash"])
        .where(F.expr("id_a < id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cands = (
        pair_ids.join(
            with_sig.selectExpr("__id AS id_a", "__sig AS __sa"),
            on="id_a",
        )
        .join(
            with_sig.selectExpr("__id AS id_b", "__sig AS __sb"),
            on="id_b",
        )
    )
    est = (
        "CAST(size(filter(zip_with(__sa, __sb, (x, y) -> x = y), "
        f"v -> v)) AS DOUBLE) / {float(num_perm)!r}D"
    )
    return cands.selectExpr(
        "id_a", "id_b", f"{est} AS est_jaccard"
    ).where(F.expr(f"est_jaccard >= {float(threshold)!r}D"))


def _band_structs(num_perm: int, bands: int) -> Column:
    """Array of (band, bhash) structs over the ``__sig`` column — the
    banded split of a MinHash signature. Shared by _minhash_bands and
    the r14 post-checkpoint re-derivation in minhash_lsh_pairs (both
    must hash identically)."""
    rows_per_band = num_perm // bands
    return F.expr(_band_structs_sql(num_perm, bands))


def _band_structs_sql(num_perm: int, bands: int) -> str:
    """SQL-string form of ``_band_structs`` (r14, guide §5.3)."""
    rpb = num_perm // bands
    return (
        f"transform(sequence(0, {bands - 1}), bi -> struct(bi AS band, "
        f"xxhash64(concat_ws(',', slice(__sig, bi * {rpb} + 1, {rpb})))"
        " AS bhash))"
    )


def _minhash_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
    seed: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash signature + band pipeline. Returns
    ``(with_sig, exploded)``: the per-doc signature frame
    (``__id, __sig``) and its banded explosion (``__id, __sig, band,
    bhash`` — one row per (doc, band)). Used by the batch pair
    generator (minhash_lsh_pairs) and the streaming ingest dedup
    (streaming_neardup_dedup), which must hash identically so an index
    built by either matches the other."""
    rows_per_band = num_perm // bands
    if rows_per_band * bands != num_perm:
        # a plain assert would vanish under python -O, silently leaving
        # the trailing signature slots out of every band
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm}); "
            f"otherwise the last {num_perm - rows_per_band * bands} "
            f"signature slots would never be banded and recall would "
            f"silently drop"
        )
    perms = minhash_perms(num_perm, seed)

    # Hash each token once (portable md5_long so the DuckDB oracle
    # reproduces signatures exactly), then combine k consecutive token
    # hashes arithmetically into a shingle hash — avoids materializing
    # k-word shingle strings. The token-hash array must live in its OWN
    # projection: expressions captured by a higher-order-function lambda
    # closure are re-evaluated per array element (no subexpression
    # elimination inside lambdas), which made per-index element_at
    # shingling O(tokens²) per doc — measured 6× slower end-to-end.
    # Here the shifted combination uses zip_with over slices, so lambdas
    # only see their arguments. All values stay < 2^31 so the
    # polynomial fits in a long.
    # (r14, guide §5.3: the signature chain builds as SQL strings —
    # identical parsed expressions, a fraction of the py4j round trips)
    th_sql = (
        f"transform(split(`{text_col}`, ' '), t -> pmod("
        f"CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT), "
        f"{_MERSENNE}))"
    )
    with_th = df.selectExpr(f"`{id_col}` AS __id", f"{th_sql} AS __th")
    acc = "__th"
    for j in range(1, shingle_k):
        # zip_with pads to the longer side with NULLs → trailing
        # partial shingles become NULL and are filtered below
        shifted = f"slice(__th, {j + 1}, greatest(size(__th) - {j}, 0))"
        acc = (
            f"zip_with({acc}, {shifted}, "
            f"(x, y) -> pmod(x * 8191 + y, {_MERSENNE}))"
        )
    hashes = (
        f"CASE WHEN size(__th) >= {shingle_k}"
        f" THEN filter({acc}, x -> x IS NOT NULL)"
        " ELSE array(aggregate(__th, CAST(0 AS BIGINT), "
        f"(a, h) -> pmod(a * 8191 + h, {_MERSENNE}))) END"
    )
    # Explode shingle hashes to rows and take the num_perm mins as ONE
    # aggregation pass. (Computing each permutation as a separate
    # array-transform re-inlines the shingling expression num_perm times
    # after projection collapse — measured 40× slower.) The explode is
    # linear in corpus token count and the min-agg is codegen'd with
    # map-side partial aggregation, so one shuffle on the doc id.
    exploded_h = with_th.selectExpr("__id", f"explode({hashes}) AS __h")
    # expression strings (r14, guide §5.3): the Column form of the
    # num_perm min-aggregates costs ~21 py4j round trips each (~680
    # per build at 32 perms); one F.expr per aggregate is 2 — same
    # int×long→long promotion and pmod semantics, bit-identical mins
    sig_df = exploded_h.groupBy("__id").agg(
        *[
            F.expr(f"min(pmod({a} * __h + {b}, {_MERSENNE})) AS mh{i}")
            for i, (a, b) in enumerate(perms)
        ]
    )
    with_sig = sig_df.selectExpr(
        "__id",
        "array(" + ", ".join(f"mh{i}" for i in range(num_perm)) + ") AS __sig",
    )

    exploded = with_sig.selectExpr(
        "__id", "__sig", f"explode({_band_structs_sql(num_perm, bands)}) AS b"
    ).selectExpr("__id", "__sig", "b.band AS band", "b.bhash AS bhash")
    return with_sig, exploded


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_band_bucket: int | None = 10_000,
) -> DataFrame:
    """SimHash near-duplicate pairs: (id_a, id_b, hamming) with
    id_a < id_b and Hamming distance ≤ ``max_hamming`` between the
    documents' ``bits``-bit SimHash fingerprints (pipeline/text.py
    simhash — portable md5-based token hashes, so the DuckDB oracle
    reproduces the fingerprints bit-exactly).

    Candidate generation is banded (the SimHash analogue of MinHash
    banding): the fingerprint splits into ``bands`` equal chunks, and
    by pigeonhole any pair within ``max_hamming`` (< bands) agrees on
    at least one whole band — so candidates come from an equi-join on
    (band, band_value), never all-pairs, and the exact popcount filter
    keeps the result identical to brute force (property-tested). Band
    buckets carry the same runtime guard as the other bucketed joins;
    near-identical corpora concentrate fingerprints, so the guard
    protects against the degenerate quadratic case.

    SIZE ``bits`` WITH THE CORPUS (r11, found by the sf10 soak): each
    band carries ``bits/bands`` value bits, so a band has
    ``2^(bits/bands)`` buckets and the AVERAGE bucket holds
    ``n_docs / 2^(bits/bands)`` rows — the default 32/4 (8-bit bands,
    256 values) floods the 10k guard near ~100k docs on a homogeneous
    corpus. Keep ``2^(bits/bands)`` a few hundred times n_docs/10k:
    bits=48 (12-bit bands) to ~5M docs, bits=60 (15-bit bands, the
    md5_long cap) to ~50M; beyond that raise ``bands`` together with
    ``max_hamming`` recall needs, or pre-collapse exact duplicates.
    Note changing ``bits`` changes the FINGERPRINT (different hash
    slice votes), so pair sets at different widths are not comparable
    — pick per corpus, not per run."""
    if bits % bands:
        raise ValueError(f"bands ({bands}) must divide bits ({bits})")
    if bits > 60:
        # md5_long supplies 60 hash bits; higher widths would silently
        # zero-fill the top bits (every doc agreeing there — recall
        # unharmed but the fingerprints would lie about their width)
        raise ValueError(f"bits ({bits}) must be <= 60 (md5_long width)")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) or the "
            f"band join loses recall (pigeonhole needs one untouched band)"
        )
    from tsp_spark.pipeline.text import token_hashes_col

    w = bits // bands
    # Hash-partition the docs by id before the per-token md5 work: a
    # small compressed corpus file scans as one task, and this spreads
    # the hashing over shuffle-partitions tasks. The vote groupBy keys
    # on the same id, so it adds no exchange of its own.
    hashed = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("__id"),
        token_hashes_col(text_col, bits).alias("__th"),
    )
    # (token_hashes_col is one F.expr string since r14 — see text.py)
    # Fingerprint via explode + codegen'd per-bit vote sums (the same
    # shape as the MinHash signature aggregation): the lambda-based
    # simhash_from_hashes evaluates bits×tokens INTERPRETED
    # higher-order-function calls (measured 8-10 s for 5k docs at
    # sf0.1 — the whole query's cost); here each exploded token row
    # feeds `bits` literal-shift expressions inside one whole-stage
    # codegen span, and the groupBy collapses map-side. Bit-identical
    # result: votes use the same multiset of token hashes.
    exploded_h = hashed.selectExpr("__id", "explode(__th) AS __h")
    # r14 plan-size diet (the query spent 1.36 s per run BUILDING this
    # plan — analyzer walks over 52 eight-node ±1-vote aggregates plus
    # a 52-deep left-leaning sum chain): votes_b = 2·s_b − n where s_b
    # counts set bits, so aggregate the 5-node `sum(shiftright & 1)`
    # per bit plus ONE count, and test `2·s_b > n` (exact integer
    # algebra — votes_b > 0 ⟺ 2·s_b > n, ties at 0 keep the bit clear
    # in both forms; bit-parity verified against the old expression on
    # the full sf0.1 corpus). Expression strings keep the build at one
    # py4j round-trip per aggregate, and the fingerprint sum nests as a
    # BALANCED tree (depth ⌈log2(52)⌉, not 52) so analyzer/coercion
    # rule walks stop being depth-quadratic. Build 1.36 → 0.40 s,
    # count 1.96 → 1.37 s at sf0.1.
    votes = exploded_h.groupBy("__id").agg(
        F.expr("count(1) AS __nt"),
        *[
            F.expr(f"sum(shiftright(__h, {b}) & 1) AS v{b}")
            for b in range(bits)
        ],
    )

    def _balanced_sum(terms: list[str]) -> str:
        if len(terms) == 1:
            return terms[0]
        mid = len(terms) // 2
        return f"({_balanced_sum(terms[:mid])} + {_balanced_sum(terms[mid:])})"

    sh_terms = [f"if(2 * v{b} > __nt, {1 << b}L, 0L)" for b in range(bits)]
    sh = votes.select("__id", F.expr(_balanced_sum(sh_terms)).alias("__sh"))
    # integer band extraction (literal shifts — exact at any bit
    # width, unlike the double-division path this replaced)
    band_arr = "array(" + ", ".join(
        f"struct({b} AS band, pmod(shiftright(__sh, {b * w}), {1 << w})"
        " AS bval)"
        for b in range(bands)
    ) + ")"
    exploded = sh.selectExpr(
        "__id", "__sh", f"explode({band_arr}) AS b"
    ).selectExpr("__id", "__sh", "b.band AS band", "b.bval AS bval")
    if max_band_bucket is not None:
        exploded = _bucket_guard(
            exploded, ["band", "bval"], max_band_bucket, "__id",
            "simhash_pairs",
            "Near-identical fingerprints flood a band bucket — collapse "
            "exact duplicates first (exact_dedup), raise bits, or raise "
            "max_band_bucket deliberately.",
        )
    a = exploded.selectExpr("band", "bval", "__id AS id_a", "__sh AS __sa")
    b = exploded.selectExpr("band", "bval", "__id AS id_b", "__sh AS __sb")
    pairs = (
        a.join(b, on=["band", "bval"])
        .where(F.expr("id_a < id_b"))
        .selectExpr(
            "id_a", "id_b",
            "CAST(bit_count(__sa ^ __sb) AS BIGINT) AS hamming",
        )
        .where(F.expr(f"hamming <= {max_hamming}"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming ingest dedup: keep the FIRST-arriving copy of each
    distinct document, drop every later copy that arrives within the
    watermark horizon — the streaming half of ``exact_dedup`` for a
    continuously-ingesting training-data pipeline.

    State discipline at 100 TB: the dedup state keys on two
    independent 64-bit content hashes (xxhash64 + the md5-derived
    md5_long), NOT the document text — state stays 16 bytes per
    distinct document regardless of document size, and a collision
    would need both hashes to collide simultaneously (~2^-120 per
    pair). ``dropDuplicatesWithinWatermark`` evicts state older than
    the watermark, so state is bounded by the distinct-document rate
    × horizon, not by stream lifetime (the unbounded-state trap of
    plain ``dropDuplicates`` on a stream).

    Semantics note: batch ``exact_dedup`` picks the MIN-id copy as
    representative; a stream cannot know a future smaller id, so the
    representative is the first ARRIVAL (the standard streaming-ingest
    contract). Late duplicates beyond the horizon re-admit — size the
    watermark to the pipeline's re-delivery window.
    """
    from tsp_spark.pipeline.hashing import md5_long

    return (
        stream.withColumn("__h1", F.xxhash64(F.col(text_col)))
        .withColumn("__h2", md5_long(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h1", "__h2"])
        .drop("__h1", "__h2")
    )


def streaming_neardup_dedup(
    stream: DataFrame,
    text_col: str,
    id_col: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_band_bucket: int | None = 10_000,
    compact_every: int | None = None,
):
    """Streaming NEAR-duplicate ingest dedup: MinHash-LSH each
    micro-batch against a persistent signature index of everything
    admitted so far; drop near-dups, admit and index the rest.

    Admission rule (deterministic, order-free within a batch): a doc
    is admitted iff
      (a) no band collision with the index verifies at
          est_jaccard ≥ threshold against an already-admitted doc, and
      (b) it has no verified batch-local pair with a smaller id
          (the min-id doc of every batch-local near-dup group wins —
          same representative rule as the batch dedup_clusters entry).
    Rule (b) is deliberately conservative on chains (a~b, b~c, a≁c
    drops both b and c, where one-at-a-time ingest would re-admit c):
    a deterministic batch-size-independent rule beats order-dependent
    greedy admission for a distributed ingest, and over-dropping is
    the safe direction for training-data dedup.

    State/index design for 100 TB: the index holds one row per
    admitted doc — (id, 32-int signature, 8 band hashes), ~300 B/doc,
    NOT the text. Each micro-batch (small) is broadcast against the
    index, never a shuffle of the index; appends are per-batch
    subdirectories so a replayed foreachBatch OVERWRITES its own
    output (idempotent exactly-once sink).

    ``compact_every=N`` (r9) bounds the per-trigger index cost: every
    N batches the delta generations fold into ONE band-hash-
    partitioned ``compact=<n>`` generation (crash-safe via a
    ``_COMMITTED`` marker written last; superseded deltas GC'd after
    commit), and the probe join reads ONLY the ≤ 64 hash buckets the
    batch touches (a literal partition filter — see
    ``_neardup_cross_pairs``). Per-trigger cost becomes
    ~touched-buckets/64 of the index plus the un-compacted tail,
    instead of a full index scan; at a 10B-doc index that is the
    difference between ~GBs and ~TBs per trigger. The compacted
    layout trades ``bands``× signature duplication for the pruned
    read — the standard LSH-index trade. Default None keeps the
    flat delta layout (fine for short-lived streams and tests).

    Batch/stream parity: signatures and bands come from the SAME
    `_minhash_bands` pipeline as minhash_lsh_pairs, so an index built
    offline by the batch engine is directly usable as the stream's
    starting index.
    """
    spark = stream.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _neardup_process_batch(
            spark, batch_df, batch_id,
            text_col=text_col, id_col=id_col, index_dir=index_dir,
            out_dir=out_dir, num_perm=num_perm, bands=bands,
            shingle_k=shingle_k, threshold=threshold, seed=seed,
            max_band_bucket=max_band_bucket, compact_every=compact_every,
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# bucket count of the band-hash-partitioned compacted index layout. A
# module CONSTANT, not a parameter, on purpose: probe and index MUST
# hash (band, bhash) into the same bucket space — a restart with a
# different count would silently miss cross-batch duplicates.
_NEARDUP_PB = 64


def _pb_col() -> Column:
    """Compacted-index partition bucket of a (band, bhash) pair."""
    return F.pmod(
        F.xxhash64(F.col("band"), F.col("bhash")), F.lit(_NEARDUP_PB)
    ).cast("int")


def _index_resolve(
    spark, index_dir: str, before: int
) -> tuple[str | None, list[str]]:
    """Resolve the index view for batches < ``before``: the newest
    COMMITTED compacted generation covering batches < upto ≤ before
    (``compact=<upto>/`` gated by a ``_COMMITTED`` marker written
    last, the ivf_build_index pattern — a compaction that died
    mid-write is invisible), plus the committed delta batches in
    [upto, before). Listing goes via Hadoop FS (works on any scheme
    the cluster mounts); a missing index root means no generations
    (the first batch); any other FS error propagates so the streaming
    batch fails and retries. Accepts an offline-bootstrap generation
    at ``batch=-1`` (what a batch-engine-built starting index should
    be written as)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None, []
    compacts: list[int] = []
    deltas: list[int] = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if not status.isDirectory():
            continue
        head, _, tail = name.partition("=")
        try:
            gen = int(tail)
        except ValueError:
            continue
        if head == "batch" and gen < before:
            deltas.append(gen)
        elif head == "compact" and gen <= before and fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{name}/_COMMITTED")
        ):
            compacts.append(gen)
    base = max(compacts) if compacts else None
    delta_paths = [
        f"{index_dir}/batch={g}"
        for g in sorted(deltas)
        if base is None or g >= base
    ]
    return (
        f"{index_dir}/compact={base}" if base is not None else None,
        delta_paths,
    )


def _compact_index(spark, index_dir: str, upto: int) -> None:
    """Fold every committed generation covering batches < ``upto``
    (the previous compact plus the deltas since) into ONE
    band-hash-partitioned generation ``compact=<upto>/rows/`` — rows
    exploded to (band, bhash, id, sig) and disk-partitioned by the
    (band, bhash) bucket, so a probe join reads ~probed-buckets of
    the index instead of scanning it end to end (dynamic partition
    pruning on the broadcast probe, the ivf_search_index shape).
    Storage trades ``bands``× signature duplication for the pruned
    read — the standard LSH-index layout.

    Crash-safe and replay-idempotent: content is deterministic from
    committed sources, the ``_COMMITTED`` marker is written LAST, and
    an already-committed target makes this a no-op (a replayed batch
    re-invokes it). Superseded sources are deleted only after the
    marker exists; a crash between marker and delete just re-runs the
    delete on replay (the resolve rule never double-counts — deltas
    below a chosen compact are ignored)."""
    jvm = spark._jvm
    target = f"{index_dir}/compact={upto}"
    marker = jvm.org.apache.hadoop.fs.Path(f"{target}/_COMMITTED")
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(marker):
        compact_path, delta_paths = _index_resolve(spark, index_dir, upto)
        if compact_path is None and not delta_paths:
            return
        parts = []
        if delta_paths:
            parts.append(
                spark.read.parquet(*delta_paths).select(
                    F.explode("bhashes").alias("b"), "id", "sig"
                ).select("b.band", "b.bhash", "id", "sig")
            )
        if compact_path:
            parts.append(
                spark.read.parquet(f"{compact_path}/rows").select(
                    "band", "bhash", "id", "sig"
                )
            )
        rows = parts[0]
        for p in parts[1:]:
            rows = rows.unionByName(p)
        # static overwrite per-write: dynamic partitionOverwriteMode
        # (a common session config) would leave stale __pb dirs when a
        # rewrite of a torn compaction touches fewer buckets
        rows.withColumn("__pb", _pb_col()).write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy("__pb").parquet(f"{target}/rows")
        fs.create(marker, True).close()
    # GC superseded sources (idempotent; resolve already ignores them)
    for status in fs.listStatus(jvm.org.apache.hadoop.fs.Path(index_dir)):
        name = status.getPath().getName()
        head, _, tail = name.partition("=")
        try:
            gen = int(tail)
        except ValueError:
            continue
        if (head == "batch" and gen < upto) or (
            head == "compact" and gen < upto
        ):
            fs.delete(status.getPath(), True)


def _neardup_cross_pairs(
    spark, index_dir: str, before: int, bands_df: DataFrame
):
    """Cross-batch candidate pairs (id_a, id_b, __sa) of a probe
    micro-batch against the committed index view for batches <
    ``before`` — the compacted generation is read partition-PRUNED to
    the buckets the probe actually touches; un-compacted deltas are
    scanned in full (they are the recent tail, small by construction
    when compaction runs). Returns None when the index is empty.

    The pruning is STATIC, not DPP: the probe's distinct bucket set
    (≤ _NEARDUP_PB = 64 ints — a bounded driver-side action per
    trigger, the partition-pruning handshake) becomes a literal IN
    partition filter on the scan. Deliberate: dynamic partition
    pruning is a heuristic (it declines without selective predicates
    or useful stats), and a silently-skipped prune here means a full
    index scan per trigger at 10B docs — the literal filter prunes
    unconditionally."""
    compact_path, delta_paths = _index_resolve(spark, index_dir, before)
    parts = []
    if delta_paths:
        idx_bands = spark.read.parquet(*delta_paths).select(
            F.explode("bhashes").alias("b"), F.col("id").alias("id_a"),
            F.col("sig").alias("__sa"),
        ).select(
            F.col("b.band").alias("band"), F.col("b.bhash").alias("bhash"),
            "id_a", "__sa",
        )
        probe = F.broadcast(
            bands_df.select("band", "bhash", F.col("__id").alias("id_b"))
        )
        parts.append(
            idx_bands.join(probe, ["band", "bhash"]).select(
                "id_a", "id_b", "__sa"
            )
        )
    if compact_path:
        probe_b = bands_df.select(
            "band", "bhash", F.col("__id").alias("id_b")
        ).withColumn("__pb", _pb_col())
        pb_vals = [
            r["__pb"] for r in probe_b.select("__pb").distinct().collect()
        ]
        comp = spark.read.parquet(f"{compact_path}/rows").where(
            F.col("__pb").isin(pb_vals)
        )
        parts.append(
            comp.join(F.broadcast(probe_b), ["__pb", "band", "bhash"]).select(
                F.col("id").alias("id_a"), "id_b", F.col("sig").alias("__sa")
            )
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["id_a", "id_b"])


def _neardup_process_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    *,
    text_col: str,
    id_col: str,
    index_dir: str,
    out_dir: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
    threshold: float,
    seed: int,
    max_band_bucket: int | None = 10_000,
    compact_every: int | None = None,
) -> None:
    """One micro-batch of streaming_neardup_dedup — module-level so
    tests can drive crash-replay (same batch_id twice) directly."""
    with_sig, exploded = _minhash_bands(
        batch_df.select(F.col(id_col).alias("__id"), text_col),
        text_col, "__id", num_perm, bands, shingle_k, seed,
    )
    sigs = with_sig.localCheckpoint(eager=True)
    bands_df = exploded.drop("__sig").localCheckpoint(eager=True)
    # the same degenerate-corpus guard as the batch minhash_lsh_pairs
    # path this was factored from: a micro-batch flooded with
    # near-identical templated docs would send a band bucket quadratic
    # in the self-join below — fail fast with the actionable message
    # instead (review-caught, r8)
    if max_band_bucket is not None:
        # opt-out matters MORE here than in batch (review-caught): a
        # deterministic guard failure replays forever on the same
        # micro-batch — the stream is stuck until the operator is
        # restarted with a higher limit or None
        bands_df = _bucket_guard(
            bands_df, ["band", "bhash"], max_band_bucket, "__id",
            "streaming_neardup_dedup",
            "Identical-signature groups make the batch-local band join "
            "quadratic — collapse exact duplicates first "
            "(streaming_exact_dedup upstream), or restart the query "
            "with a higher max_band_bucket / None to let this batch "
            "through.",
        )

    def _agree_ok(col_a: Column, col_b: Column) -> Column:
        """est_jaccard(sig_a, sig_b) ≥ threshold — ONE definition for
        the batch-local and cross-batch drop paths (review-caught:
        the inline duplicate would let the two paths drift)."""
        agree = F.size(
            F.filter(F.zip_with(col_a, col_b, lambda x, y: x == y), lambda v: v)
        )
        return agree.cast("double") / F.lit(float(num_perm)) >= F.lit(threshold)

    sa = sigs.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sa"))
    sb = sigs.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sb"))

    # (b) batch-local: min-id representative of every verified pair
    local_pairs = (
        bands_df.select("band", "bhash", F.col("__id").alias("id_a"))
        .join(
            bands_df.select("band", "bhash", F.col("__id").alias("id_b")),
            ["band", "bhash"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    local_drop = (
        local_pairs.join(sa, "id_a").join(sb, "id_b")
        .where(_agree_ok(F.col("__sa"), F.col("__sb")))
        .select(F.col("id_b").alias("__id"))
    )

    # (a) cross-batch: collide batch bands with the index, verify.
    # Read ONLY generations with batch < batch_id: after a crash
    # between the index write and the offset commit, the replayed
    # batch would otherwise see its OWN failed-attempt docs in the
    # index — every admitted doc band-matches itself (est=1.0) and
    # gets dropped, silently losing data (the same crash-replay
    # class as the streaming carry bug fixed in streaming/job.py;
    # pinned by test_streaming_neardup_dedup_replay_is_idempotent).
    # Generations are LISTED explicitly (no blanket try/except around
    # the read: a transient FS error or corrupt footer must FAIL the
    # batch so the checkpoint retries it, not silently disable
    # cross-batch dedup and pollute the corpus — review-caught, r8).
    cross_pairs = _neardup_cross_pairs(
        spark, index_dir, batch_id, bands_df
    )
    if cross_pairs is not None:
        cross_drop = (
            cross_pairs.join(sb, "id_b")
            .where(_agree_ok(F.col("__sa"), F.col("__sb")))
            .select(F.col("id_b").alias("__id"))
        )
        drops = local_drop.unionByName(cross_drop).distinct()
    else:
        drops = local_drop.distinct()

    admitted = batch_df.join(
        drops.withColumnRenamed("__id", id_col), id_col, "left_anti"
    )
    # idempotent per-batch paths: a replay overwrites its own output
    admitted.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
    new_index = (
        sigs.join(
            drops, sigs["__id"] == drops["__id"], "left_anti"
        )
        .join(
            bands_df.groupBy("__id").agg(
                F.collect_list(F.struct("band", "bhash")).alias("bhashes")
            ),
            "__id",
        )
        .select(
            F.col("__id").alias("id"), F.col("__sig").alias("sig"), "bhashes"
        )
    )
    new_index.write.mode("overwrite").parquet(f"{index_dir}/batch={batch_id}")
    # periodic compaction: fold every generation BELOW this batch into
    # one band-hash-partitioned compact=<batch_id> (this batch's own
    # delta stays a delta — a replay of this batch must not see it);
    # idempotent under replay via the _COMMITTED marker
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        _compact_index(spark, index_dir, upto=batch_id)
    # no explicit unpersist: Dataset.unpersist() does not free
    # localCheckpoint RDD blocks (verified — only the ContextCleaner
    # frees them once the RDD is GC'd), and after the guard rebinding
    # it would not even reference the checkpointed frames; dropping
    # the Python references here is what actually schedules cleanup


SENTENCE_MARK = "\x1e"  # RS sentinel: split point the regex injects
SENTENCE_GRAM_SEP = "\x1f"  # US: joins sentences inside a gram hash


def sentence_array(text: Column) -> Column:
    """Sentence segmentation shared by the ``unit='sentence'`` span
    machinery: split AFTER terminal punctuation ([.!?]) followed by a
    space or newline. Lookbehind-free (an RS sentinel injected by
    regexp_replace, then a plain split) so a DuckDB/RE2 oracle can
    reproduce it exactly. Each sentence KEEPS its trailing whitespace,
    which makes the rebuild byte-lossless: concatenating kept
    sentences with an empty joiner reproduces the original text
    wherever nothing was trimmed."""
    return F.split(
        F.regexp_replace(text, "([.!?])([\\n ])", "$1$2" + SENTENCE_MARK),
        SENTENCE_MARK,
    )


def sentence_array_sql(text_expr: str) -> str:
    """The DuckDB expression computing exactly ``sentence_array``."""
    return (
        f"string_split(regexp_replace({text_expr}, "
        "'([.!?])([\\n ])', '\\1\\2' || chr(30), 'g'), chr(30))"
    )


def _toks_sql(text_col: str, unit: str) -> str:
    """The SPARK SQL string computing the span machinery's gram-unit
    array — ``split(text, ' ')`` for tokens, ``sentence_array`` for
    sentences (r14: the gram stage builds from SQL strings to cut the
    per-Column py4j round trips; the parsed expression tree is
    identical to the old Column form). Spark string literals process
    backslash escapes by default, so the regex reaches the engine as
    the same `([.!?])([\\n ])` the Column form passed."""
    if unit == "token":
        return f"split(`{text_col}`, ' ')"
    return (
        f"split(regexp_replace(`{text_col}`, '([.!?])([\\\\n ])', "
        f"'$1$2{SENTENCE_MARK}'), '{SENTENCE_MARK}')"
    )


def _kept_sql(text_col: str, unit: str) -> str:
    """SQL string for the surviving-units array of the span trimmers:
    unit i of the document survives iff no merged duplicated span
    (the per-doc ``__spans`` array, NULL when the doc has none) covers
    it. Shared by duplicated_span_profile / trim_duplicated_spans
    (r14: SQL-string form of the old filter/exists Column lambdas —
    identical parsed expressions, ~550 fewer py4j round trips per
    invocation)."""
    return (
        f"filter({_toks_sql(text_col, unit)}, (x, i) -> NOT exists("
        "coalesce(__spans, CAST(array() AS"
        " array<struct<__s:BIGINT,__e:BIGINT>>)),"
        " sp -> sp.__s <= i AND i < sp.__e))"
    )


def _merged_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    min_count: int,
    hash_fn: str,
    keep_first: bool = False,
    unit: str = "token",
) -> tuple[DataFrame, DataFrame]:
    """Shared core of duplicated_span_stats / trim_duplicated_spans:
    returns ``(base, merged)`` where base = (id, text, __n) and merged
    = one row per disjoint duplicated span (id, __s, __e) — the
    per-doc union of overlapping duplicated k-gram windows. See
    duplicated_span_stats for the plan-shape discussion.

    ``keep_first=True`` (r10) excludes each duplicated gram's CANONICAL
    occurrence — the lexicographically smallest (id, pos) — from the
    hit set before span-merging, so one copy of every duplicated
    passage survives trimming (the Lee-et-al deployment semantics;
    drop-all erases common idioms corpus-wide). Implementation keeps
    the skew-safe shape: the canonical rides out of the SAME gram
    groupBy that computes the duplicate counts (min over a (id, pos)
    struct — map-side combinable, so a boilerplate gram occurring 1e9
    times still collapses on the map side), then the semi-join becomes
    an inner join carrying the canonical for an equality filter —
    shuffle count unchanged.

    ``unit`` (r11): ``'token'`` — whitespace tokens, Lee et al.'s
    k-gram form; ``'sentence'`` — SENTENCES as the gram unit
    (sentence_array), which with k=3 + keep_first is exactly C4's
    other dedup half (Raffel et al. §2.2: discard all but one of any
    three-sentence span occurring more than once in the data set).
    Gram identity hashes rtrim'd sentences so a span ending at
    end-of-text matches the same span mid-text. Plan shape identical
    to the token path — the unit only changes two expressions."""
    from pyspark.sql import Window

    from tsp_spark.pipeline.hashing import md5_long

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if hash_fn not in ("md5", "xxh"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxh', got {hash_fn!r}")
    if unit not in ("token", "sentence"):
        raise ValueError(f"unit must be 'token' or 'sentence', got {unit!r}")

    # r14 (guide §5.3): the gram stage builds as SQL STRINGS instead of
    # nested Column lambdas — the Column form cost ~250 py4j round
    # trips per invocation (x3 invocations in the bench fold) plus an
    # eager JVM re-analysis per transformation; the parsed expressions
    # are token-identical (same split/slice/concat_ws/md5-conv chain),
    # so every downstream hash — and the oracle comparison — is
    # bit-for-bit unchanged.
    id_q = f"`{id_col}`"
    toks_sql = _toks_sql(text_col, unit)
    if unit == "token":
        gram_sql = f"concat_ws(' ', slice(__toks, i + 1, {k}))"
    else:
        # strip trailing [ \n] for the gram IDENTITY only (the
        # rebuild keeps the whitespace): a span ending at
        # end-of-text ('.') must match the same span mid-text
        # ('.\n' / '. ')
        gram_sql = (
            f"concat_ws('{SENTENCE_GRAM_SEP}', "
            f"transform(slice(__toks, i + 1, {k}), "
            "s -> regexp_replace(s, '[ \\\\n]+$', '')))"
        )
    if hash_fn == "md5":
        gh_sql = (
            f"CAST(conv(substring(md5({gram_sql}), 1, 15), 16, 10)"
            " AS BIGINT)"
        )
    else:
        gh_sql = f"xxhash64({gram_sql})"

    base = df.selectExpr(id_q, f"`{text_col}`", f"size({toks_sql}) AS __n")
    grams = (
        base.where(F.col("__n") >= k)
        .selectExpr(id_q, f"{toks_sql} AS __toks", "__n")
        .selectExpr(
            id_q,
            f"posexplode(transform(sequence(0, __n - {k}), "
            f"i -> {gh_sql})) AS (pos, __gh)",
        )
    )
    if keep_first:
        dup = (
            grams.groupBy("__gh")
            .agg(
                F.expr("count(1) AS __cnt"),
                F.expr(f"min(struct({id_q} AS i, pos AS p)) AS __canon"),
            )
            .where(F.expr(f"__cnt >= {min_count}"))
            .select("__gh", "__canon")
        )
        hits = (
            grams.join(dup, "__gh")
            .where(F.expr(f"{id_q} != __canon.i OR pos != __canon.p"))
            .selectExpr(id_q, "pos", f"pos + {k} AS __end")
        )
    else:
        dup = (
            grams.groupBy("__gh")
            .agg(F.expr("count(1) AS __cnt"))
            .where(F.expr(f"__cnt >= {min_count}"))
            .select("__gh")
        )
        hits = grams.join(dup, "__gh", "leftsemi").selectExpr(
            id_q, "pos", f"pos + {k} AS __end"
        )
    merged = (
        hits.selectExpr(
            id_q,
            "pos",
            "__end",
            "CAST(pos > coalesce(max(__end) OVER "
            f"(PARTITION BY {id_q} ORDER BY pos "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)"
            " AS BIGINT) AS __new",
        )
        .selectExpr(
            id_q,
            "pos",
            "__end",
            f"sum(__new) OVER (PARTITION BY {id_q} ORDER BY pos) AS __g",
        )
        .groupBy(id_col, "__g")
        .agg(
            F.min("pos").alias("__s"),
            F.max("__end").alias("__e"),
        )
    )
    return base, merged


def duplicated_span_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_count: int = 2,
    hash_fn: str = "md5",
    keep_first: bool = False,
    unit: str = "token",
) -> DataFrame:
    """Stats AND trim in ONE plan: per document, the span statistics
    (n_tokens, n_spans, dup_tokens, dup_frac) plus the rebuilt
    text_clean / n_kept — a single _merged_dup_spans core, a single
    groupBy producing both the aggregates and the span array, one
    join back, one map-only projection. Use this when both halves are
    needed (the driver fold does): two separate stats+trim calls
    execute the gram groupBy / semi-join / window twice — measured,
    Catalyst does NOT reuse the exchanges across independent operator
    invocations. ``keep_first`` — see trim_duplicated_spans; ``unit``
    — see _merged_dup_spans (``'sentence'`` counts/trims SENTENCES;
    n_tokens/dup_tokens/n_kept then count sentences)."""
    base, merged = _merged_dup_spans(
        df, text_col, id_col, k, min_count, hash_fn,
        keep_first=keep_first, unit=unit,
    )
    # r14 (guide §5.3): post-processing as SQL strings — the nested
    # filter/exists Column lambdas alone cost ~550 py4j round trips per
    # invocation; the parsed expressions are identical, so text_clean
    # (and its downstream md5 in the bench fold) is byte-for-byte
    # unchanged.
    id_q = f"`{id_col}`"
    per_doc = merged.groupBy(id_col).agg(
        F.expr("count(1) AS __nsp"),
        F.expr("sum(__e - __s) AS __dup"),
        F.expr("collect_list(struct(__s, __e)) AS __spans"),
    )
    kept = _kept_sql(text_col, unit)
    return base.join(per_doc, id_col, "left").selectExpr(
        id_q,
        "CAST(__n AS BIGINT) AS n_tokens",
        "CAST(coalesce(__nsp, 0) AS BIGINT) AS n_spans",
        "CAST(coalesce(__dup, 0) AS BIGINT) AS dup_tokens",
        "CAST(coalesce(__dup, 0) AS DOUBLE) / CAST(__n AS DOUBLE)"
        " AS dup_frac",
        f"concat_ws('{' ' if unit == 'token' else ''}', {kept})"
        " AS text_clean",
        f"CAST(size({kept}) AS BIGINT) AS n_kept",
    )


def duplicated_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_count: int = 2,
    hash_fn: str = "md5",
    unit: str = "token",
) -> DataFrame:
    """Exact-substring duplication stats (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, how many of its tokens sit inside a token k-gram
    that occurs at least ``min_count`` times in the WHOLE corpus
    (within-document repeats count, exactly as in the paper's
    suffix-array formulation restricted to k-token windows).

    Returns one row per input document:
    ``(id, n_tokens, n_spans, dup_tokens, dup_frac)`` where spans are
    the per-document merge of overlapping duplicated k-gram windows —
    ``dup_tokens`` is the total size of that disjoint span union, so a
    downstream trimmer knows exactly which token ranges to cut.

    Plan shape (the 100 TB story): one expression-only pass builds the
    per-position gram hashes (slice + concat + hash inside
    ``transform`` — no explode until the grams are already 8-byte
    longs), then ONE hash groupBy over gram hashes (map-side partial
    agg), ONE shuffle semi-join back to positions, and a per-document
    window for the span merge (keyed exchange, never global). This is
    the practical distributed approximation of the paper's suffix
    array: identical results for duplicates of length ≥ k, linear
    shuffles, no quadratic candidate sets.

    ``hash_fn='md5'`` uses the 60-bit md5_long bridge so a DuckDB
    oracle reproduces the decision bit-exactly; ``'xxh'`` switches the
    gram key to xxhash64 (faster, same answer modulo 64-bit collisions
    — equality is all the key is used for). ``unit='sentence'`` (r11)
    counts duplicated SENTENCE k-grams instead (n_tokens/dup_tokens
    then count sentences) — see _merged_dup_spans."""
    base, merged = _merged_dup_spans(
        df, text_col, id_col, k, min_count, hash_fn, unit=unit
    )
    spans = merged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("__e") - F.col("__s")).alias("dup_tokens"),
    )
    return (
        base.select(F.col(id_col), F.col("__n").alias("n_tokens"))
        .join(spans, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("long")
            .alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            (
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_frac"),
        )
    )


def trim_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_count: int = 2,
    hash_fn: str = "md5",
    keep_first: bool = False,
    unit: str = "token",
) -> DataFrame:
    """The trimmer half of the Lee-et-al exact-substring pipeline:
    rebuild each document with every token inside a duplicated span
    REMOVED. Two policies:

    * ``keep_first=False`` (default, the r9 behavior): drop-all —
      duplicated boilerplate is cut from all its occurrences;
    * ``keep_first=True`` (r10): the canonical occurrence of each
      duplicated gram — minimal (id, pos) — is NOT treated as
      duplicated, so one copy of every duplicated passage survives,
      the convention the Lee-et-al pipeline deploys with (common
      idioms aren't erased corpus-wide). See _merged_dup_spans for
      the skew-safe canonical computation.

    Returns (id, text_clean, n_tokens, n_kept). Plan: the shared span
    detection (_merged_dup_spans — one gram groupBy, one semi-join,
    one keyed window), then the spans collect per document into an
    array (bounded: disjoint spans over the doc), join back to the
    corpus, and the rebuild is a MAP-ONLY higher-order filter — token
    i survives iff no span covers it — so the expensive text column
    never shuffles. Per-row cost O(n_tokens x n_spans); spans are few
    by construction (disjoint, length >= k).

    ``unit='sentence'`` + ``k=3`` + ``keep_first=True`` is exactly
    C4's corpus-wide three-sentence-span dedup (Raffel et al. §2.2) —
    sentences are the gram unit (sentence_array), the rebuild joins
    kept sentences with an empty separator (each keeps its own
    trailing whitespace), and one canonical copy of every duplicated
    span survives."""
    base, merged = _merged_dup_spans(
        df, text_col, id_col, k, min_count, hash_fn,
        keep_first=keep_first, unit=unit,
    )
    span_arr = merged.groupBy(id_col).agg(
        F.expr("collect_list(struct(__s, __e)) AS __spans")
    )
    kept = _kept_sql(text_col, unit)
    return base.join(span_arr, id_col, "left").selectExpr(
        f"`{id_col}`",
        f"concat_ws('{' ' if unit == 'token' else ''}', {kept})"
        " AS text_clean",
        "CAST(__n AS BIGINT) AS n_tokens",
        f"CAST(size({kept}) AS BIGINT) AS n_kept",
    )
