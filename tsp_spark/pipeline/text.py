"""Text analysis operators: token stats, quality scoring, language ID,
fingerprinting, SimHash — all JVM-side expression pipelines.

Every function is deterministic and (except simhash) mirrored 1:1 by a
DuckDB oracle in the entry contract, so formulas use only exact integer
arithmetic or single divisions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny fixed marker lists for the n-gram/stopword language heuristic --
# deterministic and mirrored in the oracle SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of"],
    "query": ["query", "filter", "scan"],
    "data": ["data", "row", "column"],
}
STOPWORDS = ["the", "a", "of", "and", "in"]

FP_MOD = 1_000_000_007


def _tokens(col: Column) -> Column:
    return F.split(col, " ")


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document token counts: total, unique, chars, mean token length."""
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    total_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        total_chars.alias("n_token_chars"),
        (total_chars.cast("double") / n).alias("mean_token_len"),
    )


def quality_cols(text_col: str) -> list[Column]:
    """Column builders for the quality screens — shared by
    ``quality_scores`` and the folded text-profile query so both compute
    the identical expressions in one map-only projection."""
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    stop_n = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    uniq = F.size(F.array_distinct(toks))
    return [
        F.length(F.col(text_col)).cast("long").alias("n_chars_actual"),
        n.cast("long").alias("n_tokens"),
        (stop_n.cast("double") / n).alias("stopword_ratio"),
        (uniq.cast("double") / n).alias("unique_ratio"),
        ((uniq.cast("double") / n) < 0.3).alias("is_repetitive"),
    ]


def quality_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality features: length, stopword ratio, unique ratio,
    repetition flag (the classic pre-training quality screens)."""
    return df.select(F.col(id_col), *quality_cols(text_col))


def _gram_join(toks: Column, n: int) -> Column:
    """Space-joined word n-gram occurrence list (empty when the doc has
    fewer than n tokens) — occurrence list, NOT distinct: repetition
    signals count multiplicity."""
    count = F.size(toks)
    return F.when(
        count >= n,
        F.transform(
            F.sequence(F.lit(1), count - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _sorted_run_stats(arr: Column) -> Column:
    """One O(G) adjacent-run pass over ``array_sort(arr)`` yielding
    ``struct(max_run, dup_n, dup_chars)``:

    * ``max_run`` — the longest run of equal elements, i.e. the max
      multiplicity of any value in ``arr``;
    * ``dup_n`` — the number of elements whose value occurs ≥ 2
      times (every occurrence of a duplicated value counts);
    * ``dup_chars`` — the summed ``length()`` of those elements.

    This is the O(G log G) map-only replacement for the naive
    distinct-vs-occurrence probe, which nests higher-order filters and
    is O(G²) lambda evaluations per document — invisible on short
    bench docs, a per-row CPU cliff on real 10k–50k-token pre-training
    documents that no cluster size fixes because it rides inside one
    row's projection. Values are identical: the max run length of a
    sorted array IS the modal multiplicity, and elements in runs of
    length ≥ 2 ARE the occurrences of duplicated values, so every
    DuckDB oracle stays bit-exact. Assumes no NULL elements (all
    callers pass split()/concat_ws() outputs, which never produce
    them)."""
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("max_run"),
        zero.alias("dup_n"),
        zero.alias("dup_chars"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        new_run = F.when(same, acc["run"] + 1).otherwise(one)
        # run reaching length 2 retro-counts its first element too
        inc = (
            F.when(same & (acc["run"] == 1), F.lit(2))
            .when(same, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["max_run"], new_run).alias("max_run"),
            (acc["dup_n"] + inc).alias("dup_n"),
            (acc["dup_chars"] + inc * F.length(x)).alias("dup_chars"),
        )

    return F.aggregate(
        F.array_sort(arr),
        init,
        step,
        lambda acc: F.struct(
            acc["max_run"].alias("max_run"),
            acc["dup_n"].alias("dup_n"),
            acc["dup_chars"].alias("dup_chars"),
        ),
    )


def repetition_cols(text_col: str) -> list[Column]:
    """Gopher-style within-document repetition signals (Rae et al.
    2021, 'Scaling Language Models', appendix A — the standard
    pre-training repetition filters), token-level:

    * ``top_bigram_frac`` — occurrences of the MOST frequent bigram /
      total bigram occurrences (Gopher's 'top n-gram fraction');
    * ``dup_trigram_frac`` — fraction of trigram occurrences whose
      trigram appears ≥ 2 times (Gopher's 'duplicate n-gram
      fraction').

    Both are 0.0 for docs too short to form the n-gram. Pure
    expressions, map-only: one ``array_sort`` + one adjacent-run
    ``aggregate`` pass per n-gram order (see _sorted_run_stats) —
    O(G log G) per document, safe on 50k-token documents. Both
    fractions are single divisions of exact ints, so DuckDB
    reproduces them bit-for-bit."""
    toks = _tokens(F.col(text_col))
    g2 = _gram_join(toks, 2)
    g3 = _gram_join(toks, 3)
    top2 = _sorted_run_stats(g2)["max_run"]
    dup3 = _sorted_run_stats(g3)["dup_n"]
    return [
        F.when(
            F.size(g2) > 0, top2.cast("double") / F.size(g2)
        ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        F.when(
            F.size(g3) > 0, dup3.cast("double") / F.size(g3)
        ).otherwise(F.lit(0.0)).alias("dup_trigram_frac"),
    ]


def _top_gram_charmass(g: Column, count_one: bool = False) -> Column:
    """Char mass of the winning n-gram of an occurrence array: among
    grams with the maximal occurrence count, the one with the longest
    rendered length wins (a deterministic tie rule — reference Python
    implementations use Counter.most_common(1), whose tie choice is
    arbitrary); returns ``count(winner) * length(winner)`` as a long,
    or 0 when NO gram occurs twice — a count-1 "most frequent" gram is
    not repetition, and charging it would flag every short document.
    Rae et al. A1 charges the top gram's chars UNCONDITIONALLY (a
    once-occurring winner still counts); pass ``count_one=True`` for
    that paper-literal behavior. One O(G) adjacent-run pass over the
    sorted array, same shape as _sorted_run_stats."""
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("best_run"),
        zero.alias("best_len"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        new_run = F.when(same, acc["run"] + 1).otherwise(one)
        ln = F.length(x).cast("long")
        better = (new_run > acc["best_run"]) | (
            (new_run == acc["best_run"]) & (ln > acc["best_len"])
        )
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.when(better, new_run).otherwise(acc["best_run"]).alias(
                "best_run"
            ),
            F.when(better, ln).otherwise(acc["best_len"]).alias("best_len"),
        )

    min_run = 1 if count_one else 2
    return F.aggregate(
        F.array_sort(g), init, step,
        lambda acc: F.when(
            acc["best_run"] >= min_run, acc["best_run"] * acc["best_len"]
        ).otherwise(F.lit(0).cast("long")),
    )


TOP_GRAM_NS = (2, 3, 4)
DUP_GRAM_NS = (5, 6, 7, 8, 9, 10)


def with_gopher_repetition(
    df: DataFrame, text_col: str, paper_literal_top_gram: bool = False
) -> tuple[DataFrame, list[str]]:
    """The COMPLETE Gopher repetition battery (Rae et al. 2021,
    table A1), char-fraction forms — complementing repetition_cols'
    token-fraction top-bigram/dup-trigram signals. Returns
    ``(df_with_signals, signal_column_names)``:

    * ``top_{n}gram_char_frac`` (n = 2, 3, 4) — characters of the most
      frequent n-gram (count × rendered length, spaces included in the
      gram) over the document's total characters; ties on count break
      to the longer gram (deterministic — see _top_gram_charmass);
    * ``dup_{n}gram_char_frac`` (n = 5…10) — token characters inside
      the union of all duplicated n-gram occurrence windows over total
      token characters (overlaps counted once; token-character basis
      on both sides).

    Map-only O(G log G) per signal, but STAGED across projections on
    purpose: an expression captured inside a higher-order-function
    lambda is inlined and re-evaluated PER ELEMENT (Spark has no CSE
    inside lambda bodies), so referencing the sorted occurrence array
    or the flag array directly from the coverage lambda re-sorts it
    per token — measured as a wall-clock hang at 500 docs. Hoisting
    each intermediate array into its own column makes every in-lambda
    reference a bound attribute. All fractions are single divisions of
    exact longs, so DuckDB mirrors them bit-for-bit.

    ``top_{n}gram_char_frac`` charges the winning gram only when it
    occurs ≥ 2 times (a count-1 "most frequent" gram is not
    repetition); Rae et al. A1 charges it unconditionally — pass
    ``paper_literal_top_gram=True`` for the paper-literal form (which
    makes short docs likelier to trip the A1 thresholds)."""
    toks_c, chars_c = "__gp_toks", "__gp_chars"
    helpers = [toks_c, chars_c]
    reserved = set(helpers)
    reserved.update(f"__gp_s{n}" for n in DUP_GRAM_NS)
    reserved.update(f"__gp_fl{n}" for n in DUP_GRAM_NS)
    reserved.update(f"top_{n}gram_char_frac" for n in TOP_GRAM_NS)
    reserved.update(f"dup_{n}gram_char_frac" for n in DUP_GRAM_NS)
    clashes = reserved & set(df.columns)
    if clashes:
        # withColumns/select('*', ...) would silently REPLACE a
        # caller column of the same name — same reserved-name rule as
        # stream_training_shards' 'gen' check
        raise ValueError(
            "with_gopher_repetition: input already has reserved "
            f"column(s) {sorted(clashes)}; rename them first"
        )
    # stage 1: tokens + token-char total + per-n sorted occurrence
    # structs (for dup coverage)
    stage1 = [
        _tokens(F.col(text_col)).alias(toks_c),
        F.aggregate(
            _tokens(F.col(text_col)),
            F.lit(0).cast("long"),
            lambda a, x: a + F.length(x),
        ).alias(chars_c),
    ]
    df = df.select("*", *stage1)
    toks = F.col(toks_c)
    nt = F.size(toks)
    # closures are built by factories: PySpark infers higher-order-
    # function arity from the lambda signature, so the usual
    # late-binding fix (`lambda i, n=n:`) breaks it

    def _occ_step(n: int):
        def f(i: Column) -> Column:
            return F.struct(
                F.concat_ws(" ", F.slice(toks, i + 1, n)).alias("g"),
                i.cast("long").alias("p"),
            )

        return f

    stage2 = {}
    for n in DUP_GRAM_NS:
        occ = F.when(
            nt >= n,
            F.transform(F.sequence(F.lit(0), nt - n), _occ_step(n)),
        ).otherwise(F.array().cast("array<struct<g:string,p:long>>"))
        stage2[f"__gp_s{n}"] = F.array_sort(occ)
        helpers.append(f"__gp_s{n}")
    df = df.withColumns(stage2)

    # stage 2b: duplicated-occurrence flags back in POSITION order
    # (p is unique, so sorting the (p, f) structs restores it); the
    # lambda references __gp_s{n} as a bound column — cheap per element
    def _flag_step(s: Column):
        def neighbor_eq(j: Column, d: int) -> Column:
            return F.coalesce(
                F.get(s, j)["g"] == F.get(s, j + d)["g"], F.lit(False)
            )

        def f(j: Column) -> Column:
            return F.struct(
                F.get(s, j)["p"].alias("p"),
                (neighbor_eq(j, -1) | neighbor_eq(j, 1)).alias("f"),
            )

        return f

    stage3 = {}
    for n in DUP_GRAM_NS:
        s = F.col(f"__gp_s{n}")
        stage3[f"__gp_fl{n}"] = F.array_sort(
            F.transform(F.sequence(F.lit(0), F.size(s) - 1), _flag_step(s))
        )
        helpers.append(f"__gp_fl{n}")
    df = df.withColumns(stage3)
    # stage 3: the final fractions — one linear pass per signal, no
    # per-element array building (appending to an accumulator array
    # inside ``aggregate`` re-copies it per element: the O(G²) cliff)
    text_chars = F.length(F.col(text_col)).cast("long")
    tok_chars = F.col(chars_c)
    final = {}
    names: list[str] = []
    for n in TOP_GRAM_NS:
        mass = _top_gram_charmass(
            _gram_join(toks, n), count_one=paper_literal_top_gram
        )
        name = f"top_{n}gram_char_frac"
        final[name] = F.when(
            (nt >= n) & (text_chars > 0),
            mass.cast("double") / text_chars.cast("double"),
        ).otherwise(F.lit(0.0))
        names.append(name)
    zero = F.lit(0).cast("long")

    def _cover_step(n: int, fl: Column):
        def f(acc: Column, i: Column) -> Column:
            starts = F.coalesce(F.get(fl, i)["f"], F.lit(False))
            new_end = F.when(
                starts, F.greatest(acc["end"], i.cast("long") + n)
            ).otherwise(acc["end"])
            tok_len = F.length(F.element_at(toks, i + 1)).cast("long")
            return F.struct(
                new_end.alias("end"),
                (
                    acc["chars"]
                    + F.when(i.cast("long") < new_end, tok_len)
                    .otherwise(zero)
                ).alias("chars"),
            )

        return f

    for n in DUP_GRAM_NS:
        fl = F.col(f"__gp_fl{n}")
        covered = F.aggregate(
            F.sequence(F.lit(0), nt - 1),
            F.struct(
                F.lit(-1).cast("long").alias("end"), zero.alias("chars")
            ),
            _cover_step(n, fl),
            lambda acc: acc["chars"],
        )
        name = f"dup_{n}gram_char_frac"
        final[name] = F.when(
            (nt >= n) & (tok_chars > 0),
            covered.cast("double") / tok_chars.cast("double"),
        ).otherwise(F.lit(0.0))
        names.append(name)
    df = df.withColumns(final).drop(*helpers)
    return df, names


def gopher_repetition_signals(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Per-document Gopher char-fraction battery:
    (id, top_{2,3,4}gram_char_frac, dup_{5..10}gram_char_frac) — see
    with_gopher_repetition."""
    out, names = with_gopher_repetition(df, text_col)
    return out.select(F.col(id_col), *names)


# Rae et al. 2021 table A1 removal thresholds (a doc is REMOVED when
# the signal exceeds the value). Callers override any subset.
GOPHER_THRESHOLDS: dict[str, float] = {
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
}


def gopher_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    thresholds: dict[str, float] | None = None,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    paper_literal_top_gram: bool = False,
) -> DataFrame:
    """The assembled Gopher quality filter (Rae et al. 2021, A1):
    per-document ``keep`` verdict plus ``n_flags`` and ``first_flag``
    (the earliest-declared failing rule — cheap to keep and makes the
    filter auditable; a 100 TB run wants to know WHY a third of the
    corpus vanished). Removal rules: any repetition signal above its
    threshold (GOPHER_THRESHOLDS — the paper's values, overridable),
    token count outside [min_tokens, max_tokens], or mean token length
    outside [min_mean_token_len, max_mean_token_len]. One map-only
    projection over the staged battery — no shuffle; compose the keep
    flag with a ``.where`` and Catalyst prunes the signal columns the
    caller does not select.

    Semantic divergence from Rae et al. A1 (deliberate, default off):
    the ``top_{n}gram_char_frac`` signals here charge the most
    frequent n-gram's characters only when it occurs ≥ 2 times,
    whereas the paper charges them UNCONDITIONALLY — so with the
    paper's thresholds, short documents whose top gram occurs once
    are under-flagged by the default. Pass
    ``paper_literal_top_gram=True`` for count-1 charging (the
    paper-literal rule)."""
    th = dict(GOPHER_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(th)
        if unknown:
            raise ValueError(f"unknown threshold keys: {sorted(unknown)}")
        th.update(thresholds)
    staged, names = with_gopher_repetition(
        df, text_col, paper_literal_top_gram=paper_literal_top_gram
    )
    staged = staged.select(
        "*",
        *line_repetition_cols(text_col),
    )
    toks = _tokens(F.col(text_col))
    nt = F.size(toks).cast("long")
    mean_len = (
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).cast("double")
        / nt
    )
    rules: list[tuple[str, Column]] = [
        (name, F.col(name) > F.lit(float(limit)))
        for name, limit in th.items()
    ]
    rules += [
        ("too_few_tokens", nt < min_tokens),
        ("too_many_tokens", nt > max_tokens),
        ("mean_token_len_low", mean_len < min_mean_token_len),
        ("mean_token_len_high", mean_len > max_mean_token_len),
    ]
    n_flags = sum(
        (f.cast("int") for _, f in rules), F.lit(0)
    )
    first = None
    for name, flag in rules:
        first = (
            F.when(flag, F.lit(name))
            if first is None
            else first.when(flag, F.lit(name))
        )
    return staged.select(
        F.col(id_col),
        *names,
        "dup_line_frac",
        "dup_line_char_frac",
        nt.alias("n_tokens"),
        (n_flags == 0).alias("keep"),
        n_flags.cast("long").alias("n_flags"),
        first.otherwise(F.lit(None).cast("string")).alias("first_flag"),
    )


def repetition_signals(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document repetition screen: (id, top_bigram_frac,
    dup_trigram_frac) — see repetition_cols."""
    return df.select(F.col(id_col), *repetition_cols(text_col))


def line_repetition_cols(text_col: str) -> list[Column]:
    """Gopher's LINE-level repetition signals for corpora with
    newline structure (web scrapes, code):

    * ``dup_line_frac`` — fraction of lines that are duplicates of
      another line in the same document (all occurrences of a
      repeated line count, Gopher's 'duplicate line fraction');
    * ``dup_line_char_frac`` — fraction of the document's non-newline
      characters inside those duplicated lines.

    Both 0.0 for documents with ≤ 1 line or no repeated line. Pure
    expressions, exact-int divisions (engine-portable like
    repetition_cols); blank lines count as lines — a run of blank
    lines is itself boilerplate repetition. Same O(L log L)
    sort+run-pass shape as repetition_cols (see _sorted_run_stats),
    so 100k-line scraped pages don't hit a quadratic cliff."""
    lines = F.split(F.col(text_col), "\n")
    n = F.size(lines)
    stats = _sorted_run_stats(lines)
    n_dup = stats["dup_n"]
    chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    dup_chars = stats["dup_chars"]
    return [
        F.when(n > 1, n_dup.cast("double") / n)
        .otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when((n > 1) & (chars > 0), dup_chars.cast("double") / chars)
        .otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
    ]


def line_repetition_signals(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Per-document line-repetition screen: (id, dup_line_frac,
    dup_line_char_frac) — see line_repetition_cols."""
    return df.select(F.col(id_col), *line_repetition_cols(text_col))


def langid_cols(text_col: str) -> list[Column]:
    """Column builders for marker-word language scoring: hit count per
    language list, deterministic argmax (first list wins ties, 'unknown'
    when all 0)."""
    toks = F.array_distinct(_tokens(F.col(text_col)))
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))
        )
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in langs])
    # when-chain in declaration order: the first list reaching the max wins
    expr = None
    for lang in langs:
        clause = (scores[lang] > 0) & (scores[lang] >= best)
        expr = (
            F.when(clause, F.lit(lang))
            if expr is None
            else expr.when(clause, F.lit(lang))
        )
    pred = expr.otherwise(F.lit("unknown"))
    return [
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    ]


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Marker-word language ID (see ``langid_cols``)."""
    return df.select(F.col(id_col), *langid_cols(text_col))


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic rolling-hash document fingerprint:
    fold over token lengths, acc·31 + len (mod 1e9+7) — order-sensitive,
    so permuted near-dups get different fingerprints while exact copies
    collide."""
    toks = _tokens(F.col(text_col))
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + F.length(t)) % F.lit(FP_MOD),
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def top_tokens(
    df: DataFrame,
    text_col: str,
    group_col: str,
    n: int = 10,
    salt_buckets: int = 32,
) -> DataFrame:
    """Per-group heavy hitters: the n most frequent tokens with a
    deterministic (count desc, token asc) tie-break.

    Skew-safe three-phase plan (the salted-aggregation idea from
    ops/skew.py applied to top-n selection):
    1. explode → partial-agg groupBy(group, token): Zipfian hot tokens
       collapse MAP-SIDE (partial aggregation), so the reduce never
       sees per-occurrence skew;
    2. salted local top-n — rank within (group, hash(token) % S) and
       keep rank ≤ n. Token-hash salting splits one group's whole
       vocabulary across S tasks; a row ranked > n inside its salt
       bucket already has ≥ n bucket rows ahead of it globally, so the
       prune is provably result-identical;
    3. global window over ≤ n·S survivors per group — bounded input
       regardless of vocabulary size (the naive single-window plan
       pulls a group's ENTIRE distinct vocabulary into one task, the
       actual reduce-side hot spot at 100 TB).
    ``salt_buckets=0`` disables phase 2 (tiny-data path)."""
    toks = df.select(
        F.col(group_col), F.explode(_tokens(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy(group_col, "token").agg(F.count(F.lit(1)).alias("n_occ"))
    order = (F.col("n_occ").desc(), F.col("token").asc())
    if salt_buckets:
        w_local = Window.partitionBy(
            group_col, F.pmod(F.xxhash64("token"), F.lit(salt_buckets))
        ).orderBy(*order)
        counts = (
            counts.withColumn("__lr", F.row_number().over(w_local))
            .where(F.col("__lr") <= n)
            .drop("__lr")
        )
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
        .select(group_col, "token", "n_occ", "rank")
    )


def token_hashes_col(text_col: str, bits: int = 16) -> Column:
    """Low-``bits`` md5 token hashes for SimHash — keep only the low
    bits (md5_long is non-negative, so % is safe) so bit tests stay
    exact in double arithmetic (shiftleft/right need literal shift
    amounts, but the shift is a lambda variable downstream)."""
    # r14 (guide §5.3): one F.expr string — identical parsed tree
    return F.expr(
        f"transform(split(`{text_col}`, ' '), t -> pmod("
        "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT), "
        f"{1 << bits}))"
    )


def simhash_col(text_col: str, bits: int = 16) -> Column:
    """SimHash over portable md5-based token hashes (hashing.md5_long, so
    the DuckDB oracle reproduces it exactly): bit b of the output is 1
    when the sum of ±1 votes (tokens whose hash has bit b set vote +1) is
    positive. Near-identical token multisets → small Hamming distance.

    Hoist ``token_hashes_col`` into its OWN projection and pass it via
    ``hashes`` wherever throughput matters: expressions captured by a
    higher-order-function lambda re-evaluate per outer array element
    (no subexpression elimination inside lambdas — see
    curation.quantize_embeddings), so the inline form recomputes every
    token's md5 once per bit (review-caught: 16× the hash work)."""
    return simhash_from_hashes(token_hashes_col(text_col, bits), bits)


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """SimHash from a precomputed (projected) low-bits token-hash
    array — see ``simhash_col``.

    Lambda-based (interpreted HOFs) with double-division bit tests:
    right for the small widths the fingerprint queries use, exact
    ONLY to 52 bits (mantissa), and O(bits·tokens) interpreted calls.
    simhash_pairs uses its own codegen explode path instead — reach
    for that shape if a caller ever needs this at scale."""
    if bits > 52:
        raise ValueError(
            f"bits ({bits}) > 52: the double-division bit test loses "
            f"mantissa bits — use the codegen path (simhash_pairs)"
        )

    def bit_of(h: Column, b: Column) -> Column:
        return F.pmod(F.floor(h / F.pow(F.lit(2.0), b)).cast("long"), F.lit(2))

    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda b: F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.when(bit_of(h, b) == 1, 1).otherwise(-1),
        ),
    )
    sh = F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, b: F.when(
                v > 0, F.pow(F.lit(2.0), b).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return sh


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """Per-document SimHash fingerprint (see ``simhash_col``). Token
    hashes are hoisted into their own projection so each token is
    md5-hashed once, not once per bit."""
    hashed = df.select(
        F.col(id_col), token_hashes_col(text_col, bits).alias("__sh")
    )
    return hashed.select(
        F.col(id_col), simhash_from_hashes(F.col("__sh"), bits).alias("simhash")
    )


def compressibility(
    df: DataFrame, text_col: str, id_col: str, level: int = 6
) -> DataFrame:
    """Compression-ratio quality signal: (id, n_bytes, n_compressed,
    ratio_pct) per document — the classic training-data heuristic
    (near-random text ≈ 100%, boilerplate/repetition ≪ 50%; extreme
    values in either direction flag low-quality documents for a
    curation filter).

    zlib is Python-only, so this is the ARROW-BATCHED slow path done
    right: one vectorized pandas_udf compresses a whole Arrow batch of
    documents per call (never a per-row Python UDF); everything else
    (byte length, the percentage) stays JVM-side. Deterministic: zlib
    at a fixed level is a pure function of the bytes, so re-runs and
    retried tasks agree (CPython bundles its own zlib — stable across
    the cluster when executors share the Python build, the same
    constraint every Pandas UDF already carries).

    100 TB shape: map-only (no shuffle); Arrow transfer is bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch; ratio_pct is an
    integer cross-multiplication so no float drift."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _zlen(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level))
            if t is not None
            else None
        )

    n_bytes = F.octet_length(F.col(text_col))
    return df.select(
        id_col,
        n_bytes.alias("n_bytes"),
        _zlen(F.col(text_col)).alias("n_compressed"),
    ).withColumn(
        "ratio_pct",
        F.expr("CAST(n_compressed * 100 DIV greatest(n_bytes, 1) AS INT)"),
    )


def ngram_lm_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    train_df: DataFrame | None = None,
    hash_keys: bool = False,
    vocab_size: int | DataFrame | None = None,
) -> DataFrame:
    """CCNet-style statistical-LM quality signal: mean log-probability
    of each document under an add-one-smoothed token-BIGRAM model
    trained on ``train_df`` (default: the scored corpus itself — the
    self-perplexity screen that flags boilerplate as anomalously
    high-probability and gibberish as anomalously low).

    ``P(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)`` with V = distinct
    token count of the training corpus; the score is
    ``Σ ln P / n_bigrams`` (0.0 and n_bigrams = 0 for docs with < 2
    tokens). Unseen bigrams/contexts when ``train_df`` differs from
    ``df`` fall to the smoothed floor via count 0.

    Engine-portable exactness: every count is exact-int, the
    probability is ONE IEEE division of exact values, each per-bigram
    ``ln`` is rounded to 6 decimals BEFORE summation (so a potential
    last-ulp libm difference between engines cannot accumulate), and
    the per-doc sum is an ordered left fold over a position-sorted
    array — bit-identical to DuckDB's
    ``list_reduce(list_prepend(0.0, list(lp ORDER BY pos)), +)``.
    The final mean is deliberately NOT rounded: the fold and the
    division are already bit-deterministic, and rounding a
    short-decimal rational (6-decimal sum / small int) can land
    exactly on a .5e-6 tie that Spark (BigDecimal of the shortest
    repr) and DuckDB (exact binary value) break differently —
    observed live at sum -122.482314 / 36. Rounding ln outputs is
    safe (irrational, never short-decimal); rounding their quotients
    is not.

    Scale: in the default self-trained mode the model is the
    occurrence table aggregated (ONE corpus tokenization, reused),
    two groupBys over bigram/context keys (map-side combined, bounded
    by distinct-bigram count), one collected scalar V substituted as
    a literal, one shuffle join of occurrences to the model, one
    keyed per-doc aggregation.

    ``hash_keys=True`` (r10) pre-hashes the join keys to 8 bytes
    exactly as ``contamination_check(hash_ngrams=True)`` does —
    xxhash64(w1, w2) / xxhash64(w1) replace the strings in BOTH
    groupBys and both joins, so every shuffle moves longs instead of
    word pairs. Output values are identical (a 64-bit collision
    conflating two distinct bigrams is the same negligible risk the
    contamination screen accepts). The string path stays the default:
    the model table doubles as a human-readable artifact and is the
    DuckDB-oracle form."""
    occ = _lm_bigrams(df, text_col, id_col, with_pos=True,
                      hash_keys=hash_keys)
    if train_df is None:
        # self-trained: the model IS the occurrence table aggregated —
        # never tokenize/explode the corpus a second time.
        # ``vocab_size`` (r14): V is a one-row collect JOB at plan-build
        # time; a caller scoring the same corpus under several key
        # modes (text_fingerprint's lm + lmh variants) can compute it
        # once and pass it in — V depends only on (df, text_col), not
        # on hash_keys.
        big, ctx = _lm_counts(occ, hash_keys)
        if vocab_size is None:
            # lazy V (r14): the vocab aggregation joins in as a
            # broadcast one-row frame instead of blocking plan build
            # on a collect job — see _lm_vocab_df
            v: int | DataFrame = _lm_vocab_df(df, text_col)
        else:
            v = vocab_size
            if isinstance(v, int) and not v:
                raise ValueError("ngram LM: vocab_size must be positive")
        model = {"big": big, "ctx": ctx, "v": v, "hash_keys": hash_keys}
    else:
        model = ngram_lm_fit(train_df, text_col, hash_keys=hash_keys)
    return _lm_score_occurrences(df, occ, id_col, model)


def _lm_counts(occ: DataFrame, hash_keys: bool):
    """(bigram counts, context counts) from an occurrence frame. The
    context table always derives FROM the bigram table (bounded by
    distinct-bigram count), never from a second pass over occurrences;
    in the hashed form the context key rides along via min() — every
    row of a kb group shares the same w1, hence the same kc."""
    if hash_keys:
        big_kc = occ.groupBy("kb").agg(
            F.count(F.lit(1)).alias("__cb"), F.min("kc").alias("kc")
        )
        ctx = big_kc.groupBy("kc").agg(F.sum("__cb").alias("__cw"))
        # kc was only needed to derive ctx; keep the probe-side join
        # frame down to (key, count)
        return big_kc.select("kb", "__cb"), ctx
    big = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__cb"))
    ctx = big.groupBy("w1").agg(F.sum("__cb").alias("__cw"))
    return big, ctx


def _lm_bigrams(
    frame: DataFrame,
    text_col: str,
    id_col: str,
    with_pos: bool,
    hash_keys: bool = False,
) -> DataFrame:
    # r14 (guide §5.3): SQL-string stages — the nested struct-building
    # transform lambda cost ~100 py4j round trips per invocation (×2
    # in the bench fold); the parsed expressions are identical, and
    # the token array materializes once per row (__toks) instead of
    # re-splitting inside every element_at.
    toks_sql = f"split(`{text_col}`, ' ')"
    pairs_sql = (
        "transform(sequence(0, size(__toks) - 2), "
        "i -> struct(element_at(__toks, i + 1) AS w1, "
        "element_at(__toks, i + 2) AS w2))"
    )
    base = frame.where(F.expr(f"size({toks_sql}) >= 2"))
    if with_pos:
        out = base.selectExpr(
            f"`{id_col}`", f"{toks_sql} AS __toks"
        ).selectExpr(
            f"`{id_col}`", f"posexplode({pairs_sql}) AS (pos, bg)"
        ).selectExpr(f"`{id_col}`", "pos", "bg.w1", "bg.w2")
    else:
        out = base.selectExpr(f"{toks_sql} AS __toks").selectExpr(
            f"explode({pairs_sql}) AS bg"
        ).selectExpr("bg.w1", "bg.w2")
    if hash_keys:
        # hash BEFORE the strings leave this projection: every
        # downstream groupBy/join shuffles 8-byte longs
        cols = [f"`{id_col}`", "pos"] if with_pos else []
        out = out.selectExpr(
            *cols, "xxhash64(w1, w2) AS kb", "xxhash64(w1) AS kc"
        )
    return out


def _lm_vocab_size(train: DataFrame, text_col: str) -> int:
    # V materializes driver-side: one scalar, substituted as a literal
    # and guarded — an empty training corpus would otherwise send every
    # score to ln((0+1)/(0+0)) = +Inf and silently poison the quality
    # screen. Used by the fitted-model path (ngram_lm_fit), where a
    # reusable model wants a plain int; the self-trained scoring path
    # uses the LAZY _lm_vocab_df below instead.
    v = train.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).agg(F.countDistinct("w").alias("__v")).collect()[0]["__v"]
    if not v:
        raise ValueError(
            "ngram LM: training corpus has no tokens (V = 0)"
        )
    return int(v)


def _lm_vocab_df(train: DataFrame, text_col: str) -> DataFrame:
    """Lazy V (r14, guide §5.3): the guarded one-row vocabulary-size
    frame. Collecting V as a literal runs a SYNCHRONOUS corpus-scan
    job at plan-build time — as a broadcast one-row crossJoin the same
    aggregation runs INSIDE the scoring job's DAG (pipelined with the
    other stages, one fewer blocking pass over the training corpus).
    The V=0 guard moves into the row itself: raise_error fires at job
    time with the same message."""
    v = train.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).agg(F.countDistinct("w").alias("__vraw"))
    return v.select(
        F.when(F.col("__vraw") > 0, F.col("__vraw"))
        .otherwise(
            F.raise_error(
                F.lit("ngram LM: training corpus has no tokens (V = 0)")
            ).cast("long")
        )
        .alias("__v")
    )


def ngram_lm_fit(
    train_df: DataFrame,
    text_col: str,
    persist: bool = True,
    hash_keys: bool = False,
) -> dict:
    """Fit the bigram model once: ``{big, ctx, v, unpersist}`` — the
    bigram and context count DataFrames plus the vocabulary size.
    Reuse it across many scoring calls
    (``ngram_lm_score_with_model``), including inside ``foreachBatch``
    to score a STREAM against a frozen batch-trained model (the IVF
    build-once/serve-many shape).

    The count frames are PERSISTED by default so every scoring call /
    micro-batch joins cached counts instead of re-aggregating the
    training corpus (the cost this split exists to avoid; the IVF
    analog materializes its model for the same reason) — call
    ``model["unpersist"]()`` when done, or pass ``persist=False`` to
    manage caching yourself. ``hash_keys=True`` builds the model on
    xxhash64 keys (see ngram_lm_scores) — scoring frames must use the
    same setting; _lm_score_occurrences reads it off the model."""
    occ = _lm_bigrams(
        train_df, text_col, "__unused", False, hash_keys=hash_keys
    )
    big, ctx = _lm_counts(occ, hash_keys)
    if persist:
        big = big.persist()
        ctx = ctx.persist()

    def _unpersist() -> None:
        if persist:
            big.unpersist()
            ctx.unpersist()

    return {
        "big": big,
        "ctx": ctx,
        "v": _lm_vocab_size(train_df, text_col),
        "hash_keys": hash_keys,
        "unpersist": _unpersist,
    }


def ngram_lm_score_with_model(
    df: DataFrame, text_col: str, id_col: str, model: dict
) -> DataFrame:
    """Score any frame (batch or a foreachBatch micro-batch) against a
    fitted model — two stream-static-shaped left joins plus the keyed
    per-doc fold; unseen bigrams/contexts hit the smoothed floor."""
    occ = _lm_bigrams(
        df, text_col, id_col, with_pos=True,
        hash_keys=model.get("hash_keys", False),
    )
    return _lm_score_occurrences(df, occ, id_col, model)


def _lm_score_occurrences(
    df: DataFrame, occ: DataFrame, id_col: str, model: dict
) -> DataFrame:
    hashed = model.get("hash_keys", False)
    big_keys = ["kb"] if hashed else ["w1", "w2"]
    ctx_keys = ["kc"] if hashed else ["w1"]
    joined = occ.join(model["big"], big_keys, "left").join(
        model["ctx"], ctx_keys, "left"
    )
    if isinstance(model["v"], DataFrame):
        # lazy V (r14): broadcast one-row crossJoin — the vocab
        # aggregation runs inside this job instead of as a blocking
        # plan-build collect; same exact-int value in the same
        # arithmetic, so scores are bit-identical
        joined = joined.crossJoin(F.broadcast(model["v"]))
        v_sql = "__v"
    else:
        v_sql = str(int(model["v"]))
    # r14 (guide §5.3): scoring fold as SQL strings (same parsed
    # expressions — exact-int probability terms, ln rounded to 6
    # decimals, ordered left fold — so scores stay bit-identical to
    # the Column form and the DuckDB oracle)
    lp = joined.selectExpr(
        f"`{id_col}`",
        "pos",
        "round(ln(CAST(coalesce(__cb, 0) + 1 AS DOUBLE) / "
        f"CAST(coalesce(__cw, 0) + {v_sql} AS DOUBLE)), 6) AS lp",
    )
    agg = lp.groupBy(id_col).agg(
        F.expr("count(1) AS n_bigrams"),
        F.expr(
            "aggregate(sort_array(collect_list(struct(pos, lp))), "
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x.lp) AS __s"
        ),
    )
    return (
        df.selectExpr(f"`{id_col}`")
        .join(agg, id_col, "left")
        .selectExpr(
            f"`{id_col}`",
            "CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams",
            "coalesce(__s / n_bigrams, CAST(0.0 AS DOUBLE)) AS lm_score",
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    hash_keys: bool = False,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the k highest-scoring
    terms with ``score = tf * round(ln(N / df), 6)`` (raw term
    frequency, natural-log IDF over exact document frequencies).

    Engine-portable exactness follows the ngram_lm_scores recipe: the
    only transcendental (ln) is clamped to 6 decimals per TERM, and
    the score is then ONE IEEE multiply of an exact int by that
    clamped double — deterministic in both engines. Ties are totally
    ordered by (score desc, token asc); a token appears once per doc,
    so the order is a total one and the rank-k cutoff is exact.

    Scale: tf is a (doc, token) groupBy with map-side combine; df
    derives from tf by a second groupBy on token (never re-reads the
    corpus); N is a broadcast scalar. The top-k window partitions by
    DOCUMENT — its input per task is the doc's distinct vocabulary,
    bounded by doc length, so no salting is needed (contrast
    top_tokens, where a GROUP's vocabulary is unbounded).

    ``hash_keys=True`` (r10): the df groupBy and the tf→df join move
    xxhash64(token) longs instead of token strings (the token string
    itself still reaches the output — it is per-doc-bounded and
    required there; only the corpus-wide shuffles narrow). Same
    collision stance as ngram_lm_scores(hash_keys=True)."""
    tf = (
        df.select(
            F.col(id_col),
            F.explode(_tokens(F.col(text_col))).alias("token"),
        )
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    join_key = "__kt" if hash_keys else "token"
    if hash_keys:
        tf = tf.withColumn("__kt", F.xxhash64("token"))
        docfreq = tf.groupBy("__kt").agg(F.count(F.lit(1)).alias("df"))
    else:
        docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(docfreq, join_key)
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("token"),
            F.col("tf"),
            (
                F.col("tf").cast("double")
                * F.round(
                    F.log(
                        F.col("__n").cast("double")
                        / F.col("df").cast("double")
                    ),
                    6,
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "token", "tf", "score", "rank")
    )


def encoding_quality_cols(text_col: str, prefix: str = "") -> list[Column]:
    """Mojibake / encoding-damage screens (the CCNet-style cleaning
    signals applied before any content-quality scoring):

    * ``replacement_char_frac`` — U+FFFD replacement characters per
      character: the direct signature of decode-with-errors ingestion;
    * ``control_char_frac`` — C0 control characters (excluding
      tab/newline/carriage-return) per character: binary-in-text and
      charset-confusion damage;
    * ``non_ascii_frac`` — characters outside printable ASCII per
      character: not damage by itself, but the ratio every
      language-vs-mojibake triage starts from.

    Pure expressions (regexp_count over the row), exact-int divisions;
    0.0 for empty text. ``prefix`` renames the outputs (the
    text-profile fold computes them twice: raw and over a damaged
    projection)."""
    n = F.length(F.col(text_col))
    repl = F.regexp_count(F.col(text_col), F.lit("�"))
    ctrl = F.regexp_count(
        F.col(text_col), F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    )
    non_ascii = F.regexp_count(F.col(text_col), F.lit("[^\\x20-\\x7E]"))
    frac = lambda c: (  # noqa: E731 — tiny local shaper
        F.when(n > 0, c.cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0))
    )
    return [
        frac(repl).alias(f"{prefix}replacement_char_frac"),
        frac(ctrl).alias(f"{prefix}control_char_frac"),
        frac(non_ascii).alias(f"{prefix}non_ascii_frac"),
    ]


def inject_repetition_col(text_col: str, id_col: str) -> Column:
    """Deterministically repetition-injected copy of the text: appends
    the document's own first 10–13 tokens (count from md5_long(id)
    bit-fields) once, creating genuine duplicated 5–10-grams. The
    bench corpus is random-token synthetic — its dup-n-gram signals
    are constant zero, so the oracle fold value-checks the Gopher
    battery over this projection instead (the damage_text_col
    pattern): both engines synthesize the identical text, so every
    fraction is non-degenerate AND bit-reproducible."""
    from tsp_spark.pipeline.hashing import md5_long

    h = md5_long(F.col(id_col).cast("string"))
    k = (F.shiftright(h, 6).bitwiseAND(F.lit(3)) + 10).cast("int")
    toks = _tokens(F.col(text_col))
    return F.concat_ws(" ", F.concat(toks, F.slice(toks, 1, k)))


def inject_repetition_sql(text_expr: str, id_expr: str) -> str:
    """The DuckDB expression computing exactly inject_repetition_col."""
    from tsp_spark.pipeline.hashing import md5_long_sql

    h = md5_long_sql(f"CAST({id_expr} AS VARCHAR)")
    return (
        f"array_to_string(list_concat(string_split({text_expr}, ' '), "
        f"string_split({text_expr}, ' ')"
        f"[1:(10 + (({h} >> 6) & 3))::INT]), ' ')"
    )


C4_TERMINAL_RE = '[.!?"]$'


def c4_clean(
    df: DataFrame, text_col: str, id_col: str, min_words: int = 5
) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020 §2.2, the standard
    web-corpus line filter): keep only lines that end in terminal
    punctuation (. ! ? \"), have at least ``min_words`` words, and do
    not mention 'javascript'; flag the PAGE for removal when it has
    fewer than 3 sentences, contains 'lorem ipsum', or contains '{'.

    Returns (id, text_clean, n_lines, n_kept_lines, n_sentences,
    keep). Map-only expressions: the line array is the higher-order
    function's own argument (evaluated once per row), per-line work is
    O(line). One deliberate divergence from the paper: C4 also
    deduplicates three-sentence spans corpus-wide — that is exactly
    ``dedup.trim_duplicated_spans``/``duplicated_span_profile`` here,
    composed separately (it needs corpus shuffles; this operator needs
    none)."""
    return df.select(
        F.col(id_col), *c4_cols(text_col, min_words=min_words)
    )


def c4_cols(
    text_col: str,
    min_words: int = 5,
    prefix: str = "",
    clean_as_hash: bool = False,
) -> list[Column]:
    """Column builders for the C4 cleaner — shared by c4_clean and the
    text-profile fold. ``prefix`` renames the outputs;
    ``clean_as_hash=True`` replaces the rebuilt text with its md5_long
    (value-checks the whole reconstruction without shipping the
    string — the trim-variant trick)."""
    # r14 (guide §5.3): SQL-string forms — the filter lambda and the
    # page predicates cost ~170 py4j round trips per invocation as
    # Columns; the parsed expressions (and so the rebuilt text and its
    # md5 in the profile fold) are identical. '\n' inside the SQL
    # literals parses to the same LF character the Column form passed.
    t = f"`{text_col}`"
    kept = (
        f"filter(split({t}, '\\n'), ln -> ln RLIKE '{C4_TERMINAL_RE}'"
        f" AND size(split(ln, ' ')) >= {min_words}"
        " AND NOT contains(lower(ln), 'javascript'))"
    )
    n_sentences = f"regexp_count({t}, '[.!?]')"
    page_ok = (
        f"{n_sentences} >= 3"
        f" AND NOT contains(lower({t}), 'lorem ipsum')"
        f" AND NOT contains({t}, '{{')"
    )
    clean = f"concat_ws('\\n', {kept})"
    first = (
        f"CAST(conv(substring(md5({clean}), 1, 15), 16, 10) AS BIGINT)"
        f" AS `{prefix}clean_hash`"
        if clean_as_hash
        else f"{clean} AS `{prefix}text_clean`"
    )
    return [
        F.expr(s)
        for s in (
            first,
            f"CAST(size(split({t}, '\\n')) AS BIGINT) AS `{prefix}n_lines`",
            f"CAST(size({kept}) AS BIGINT) AS `{prefix}n_kept_lines`",
            f"CAST({n_sentences} AS BIGINT) AS `{prefix}n_sentences`",
            f"{page_ok} AS `{prefix}keep`",
        )
    ]


def c4_full_clean(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 5,
    k: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """COMPLETE C4 (Raffel et al. 2020 §2.2, both halves): the map-only
    line/page rules (c4_clean), then the corpus-wide THREE-SENTENCE-SPAN
    dedup — 'we discard all but one of any three-sentence span occurring
    more than once in the data set' — via the exact-substring span
    machinery with sentences as the gram unit and keep-first canonical
    semantics (dedup.duplicated_span_profile(unit='sentence',
    keep_first=True), r11).

    Returns (id, n_lines, n_kept_lines, n_page_sentences, keep,
    n_sentences, n_spans, dup_sentences, dup_frac, text_clean, n_kept)
    where text_clean is the line-filtered page with duplicated
    three-sentence spans cut (one canonical copy survives corpus-wide)
    and the n_* sentence stats describe that dedup. Plan: the page
    rules stay map-only; the sentence dedup is one gram-hash groupBy +
    one join back + a per-doc window — the same linear-shuffle shape
    as the token-level Lee-et-al pipeline."""
    from tsp_spark.pipeline.dedup import duplicated_span_profile

    pages = c4_clean(df, text_col, id_col, min_words=min_words)
    deduped = duplicated_span_profile(
        pages, "text_clean", id_col,
        k=k, min_count=min_count, keep_first=True, unit="sentence",
    )
    return (
        pages.select(
            F.col(id_col), "n_lines", "n_kept_lines",
            F.col("n_sentences").alias("n_page_sentences"), "keep",
        )
        .join(deduped, id_col)
        .withColumnRenamed("n_tokens", "n_sentences")
        .withColumnRenamed("dup_tokens", "dup_sentences")
    )


BOILERPLATE_SENTENCES = (
    "all rights reserved by the original publisher of this page.",
    "use of this site constitutes acceptance of our terms of service.",
    "subscribe to our newsletter for weekly updates and exclusive offers.",
    "this article was automatically generated from syndicated wire content.",
    "comments are moderated and may take several hours to appear online.",
    "share this story with your friends on all major social platforms.",
)


def inject_boilerplate_col(text_col: str, id_col: str) -> Column:
    """Deterministically append 3–6 shared BOILERPLATE sentences (as
    lines, offset and count from md5_long(id) bit-fields) to a
    structured text column: the synthetic corpus has no cross-document
    sentence overlap, so C4's three-sentence-span dedup would be
    constant-zero and its value check vacuous (the damage_text_col /
    inject_repetition_col pattern). Every boilerplate line passes the
    C4 line rules (>= 5 words, terminal '.', no 'javascript'), so the
    injected spans SURVIVE the line filter and exercise the sentence
    dedup — both engines synthesize the identical text."""
    # r14 (guide §5.3): one F.expr string (~60 py4j round trips -> 2);
    # the parsed expression is identical to the old Column tree.
    h = f"CAST(conv(substring(md5(CAST(`{id_col}` AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    off = f"CAST(shiftright({h}, 14) & 1 AS INT)"
    m = f"CAST((shiftright({h}, 16) & 3) + 3 AS INT)"
    pool = "array(" + ", ".join(f"'{s}'" for s in BOILERPLATE_SENTENCES) + ")"
    block = f"concat_ws('\\n', slice({pool}, {off} + 1, {m}))"
    return F.expr(f"concat(`{text_col}`, '\\n', {block})")


def inject_boilerplate_sql(text_expr: str, id_expr: str) -> str:
    """The DuckDB expression computing exactly inject_boilerplate_col."""
    from tsp_spark.pipeline.hashing import md5_long_sql

    h = md5_long_sql(f"CAST({id_expr} AS VARCHAR)")
    pool = "[" + ", ".join(f"'{s}'" for s in BOILERPLATE_SENTENCES) + "]"
    off = f"((({h} >> 14) & 1))::INT"
    m = f"((({h} >> 16) & 3) + 3)::INT"
    return (
        f"({text_expr} || chr(10) || array_to_string("
        f"({pool})[{off}+1:{off}+{m}], chr(10)))"
    )


def structure_text_col(text_col: str, id_col: str) -> Column:
    """Deterministically STRUCTURED copy of flat token text: tokens
    grouped into lines of 5–8 (count from md5_long(id) bit-fields),
    most lines terminated with '.', every 5th-ish line left
    unterminated, every 7th-ish suffixed ' javascript.', and some
    documents given a 'lorem ipsum dolor.' or '{ code block }.'
    trailer — the triggers the C4 cleaner screens for. The bench
    corpus is flat single-line token text (no newlines, punctuation,
    or braces), so the oracle fold exercises c4_clean over this
    projection instead (the damage_text_col pattern): both engines
    synthesize the identical structured text."""
    # r14 (guide §5.3): one F.expr string (~140 py4j round trips -> 2);
    # the parsed expression tree is identical — the h/toks/line_len
    # subexpressions were inlined per use site in the Column form too.
    h = f"CAST(conv(substring(md5(CAST(`{id_col}` AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    toks = f"split(`{text_col}`, ' ')"
    line_len = f"CAST(({h} & 3) + 5 AS INT)"
    s1 = f"shiftright({h}, 2) & 7"
    s2 = f"shiftright({h}, 5) & 7"
    n_lines = f"CAST(ceil(size({toks}) / {line_len}) AS INT)"
    body = f"concat_ws(' ', slice({toks}, i * {line_len} + 1, {line_len}))"
    suffix = (
        f"CASE WHEN pmod(i + ({s1}), 5) = 0 THEN ''"
        f" WHEN pmod(i + ({s2}), 7) = 0 THEN ' javascript.'"
        " ELSE '.' END"
    )
    base = (
        f"concat_ws('\\n', transform(sequence(0, {n_lines} - 1), "
        f"i -> concat({body}, {suffix})))"
    )
    trailer = (
        f"CASE WHEN (shiftright({h}, 8) & 7) = 0 THEN '\\nlorem ipsum dolor.'"
        f" WHEN (shiftright({h}, 11) & 7) = 0 THEN '\\n{{ code block }}.'"
        " ELSE '' END"
    )
    return F.expr(f"concat({base}, {trailer})")


def structure_text_sql(text_expr: str, id_expr: str) -> str:
    """The DuckDB expression computing exactly structure_text_col."""
    from tsp_spark.pipeline.hashing import md5_long_sql

    h = md5_long_sql(f"CAST({id_expr} AS VARCHAR)")
    t = f"string_split({text_expr}, ' ')"
    ll = f"(({h} & 3) + 5)"
    s1 = f"(({h} >> 2) & 7)"
    s2 = f"(({h} >> 5) & 7)"
    line = (
        f"array_to_string(({t})[i*{ll}+1:(i+1)*{ll}], ' ') || "
        f"CASE WHEN (i + {s1}) % 5 = 0 THEN '' "
        f"WHEN (i + {s2}) % 7 = 0 THEN ' javascript.' ELSE '.' END"
    )
    base = (
        f"array_to_string(list_transform("
        f"range(0, CAST(ceil(len({t})::DOUBLE / {ll}) AS BIGINT)), "
        f"i -> {line}), chr(10))"
    )
    trailer = (
        f"CASE WHEN (({h} >> 8) & 7) = 0 THEN chr(10) || 'lorem ipsum dolor.'"
        f" WHEN (({h} >> 11) & 7) = 0 THEN chr(10) || '{{ code block }}.'"
        f" ELSE '' END"
    )
    return f"({base} || {trailer})"


def damage_text_col(text_col: str, id_col: str) -> Column:
    """Deterministically 'damaged' copy of the text: appends 1–4 U+FFFD
    replacement chars, 1–4 C0 control chars (BEL) and 1–4 non-ASCII
    chars, with each count derived from md5_long(id) bit-fields. The
    encoding screens are constant-zero on a clean-ASCII corpus, so the
    oracle fold value-checks them over this projection instead — both
    engines synthesize the identical damaged text from the identical
    hash, so the fractions are non-degenerate AND bit-reproducible.
    Bit-fields (``& 3``, shifts), not division: md5_long is 60 bits and
    long/long division through doubles loses exactness past 2^53."""
    from tsp_spark.pipeline.hashing import md5_long

    h = md5_long(F.col(id_col).cast("string"))
    n1 = (h.bitwiseAND(F.lit(3)) + 1).cast("int")
    n2 = (F.shiftright(h, 2).bitwiseAND(F.lit(3)) + 1).cast("int")
    n3 = (F.shiftright(h, 4).bitwiseAND(F.lit(3)) + 1).cast("int")
    return F.concat(
        F.col(text_col),
        F.repeat(F.lit("�"), n1),
        F.repeat(F.lit("\x07"), n2),
        F.repeat(F.lit("é"), n3),
    )


def damage_text_sql(text_expr: str, id_expr: str) -> str:
    """The DuckDB expression computing exactly ``damage_text_col``."""
    from tsp_spark.pipeline.hashing import md5_long_sql

    h = md5_long_sql(f"CAST({id_expr} AS VARCHAR)")
    return (
        f"{text_expr}"
        f" || repeat('�', (1 + ({h} & 3))::INT)"
        f" || repeat(chr(7), (1 + (({h} >> 2) & 3))::INT)"
        f" || repeat('é', (1 + (({h} >> 4) & 3))::INT)"
    )


def encoding_quality(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document encoding screen: (id, replacement_char_frac,
    control_char_frac, non_ascii_frac) — see encoding_quality_cols."""
    return df.select(F.col(id_col), *encoding_quality_cols(text_col))
