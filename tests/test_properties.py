"""Property-based tests (hypothesis): invariants that hold for ANY input —
normalization idempotence, fingerprint whitespace-invariance, required-filter
postcondition, Jaccard bounds, dedup idempotence."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.functions.texthash import (
    md5_fingerprint,
    normalize_text,
    rolling_fingerprint,
)
from universal_aws_data_pipeline_spark.operators.dedup import exact_dedup
from universal_aws_data_pipeline_spark.operators.transform import filter_required

TEXTS = st.text(alphabet="abcdefghijklmnop 0123456789.,!?-", min_size=0, max_size=60)


@settings(max_examples=8, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=6))
def test_fingerprints_whitespace_invariant(spark, texts):
    """Fingerprints depend only on normalized content: doubling whitespace or
    changing case must not change them."""
    rows = [(i, t, "  " + t.upper().replace(" ", "   ") + " ") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id LONG, a STRING, b STRING")
    out = df.select(
        (md5_fingerprint(F.col("a")) == md5_fingerprint(F.col("b"))).alias("md5_eq"),
        (rolling_fingerprint(F.col("a")) == rolling_fingerprint(F.col("b"))).alias("roll_eq"),
    ).collect()
    assert all(r["md5_eq"] and r["roll_eq"] for r in out)


@settings(max_examples=8, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=6))
def test_normalize_idempotent(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t STRING")
    out = df.select((normalize_text(normalize_text(F.col("t"))) == normalize_text(F.col("t"))).alias("eq")).collect()
    assert all(r["eq"] for r in out)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5) | st.none(), st.integers(0, 100)),
        min_size=0,
        max_size=20,
    )
)
def test_filter_required_postcondition(spark, rows):
    """After filter_required, no nulls remain in required columns and every
    fully-non-null input row survives."""
    df = spark.createDataFrame([(k, v) for k, v in rows], "k INT, v INT")
    out = filter_required(df, ["k"]).collect()
    assert all(r["k"] is not None for r in out)
    assert len(out) == sum(1 for k, _ in rows if k is not None)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=20))
def test_exact_dedup_idempotent_and_minimal(spark, rows):
    df = spark.createDataFrame(rows, "key INT, seq INT")
    once = exact_dedup(df, ["key"], "seq")
    twice = exact_dedup(once, ["key"], "seq")
    got_once = sorted(map(tuple, once.collect()))
    assert got_once == sorted(map(tuple, twice.collect()))  # idempotent
    # keeps exactly the min seq per key
    expected = {}
    for k, s in rows:
        expected[k] = min(expected.get(k, s), s)
    assert got_once == sorted(expected.items())


@settings(max_examples=6, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=8), st.integers(min_value=2, max_value=8))
def test_heavy_hitters_matches_ground_truth(spark, texts, k):
    """For ANY corpus and k, the two-pass result equals the brute-force
    answer computed driver-side over the same normalization."""
    from collections import Counter

    from universal_aws_data_pipeline_spark.operators.sketch import heavy_hitters_exact

    df = spark.createDataFrame([(t,) for t in texts], "text STRING")
    got = {(r["tok"], r["cnt"]) for r in heavy_hitters_exact(df, k=k).collect()}
    truth: Counter = Counter()
    for t in texts:
        norm = re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        truth.update(norm.split(" "))
    n = sum(truth.values())
    expect = {(tok, c) for tok, c in truth.items() if c * k > n}
    assert got == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(st.sampled_from(["en", "de", "fr"]),
                       st.floats(min_value=0.0, max_value=1.0, allow_nan=False)),
             min_size=1, max_size=30),
    st.floats(min_value=0.05, max_value=0.95),
)
def test_quantile_cutoff_is_exact_order_statistic(spark, rows, frac):
    """The histogram cutoff equals the ceil(frac*n)-th smallest value per
    group, for ANY value multiset and fraction."""
    import math as _math

    from universal_aws_data_pipeline_spark.operators.sampling import quantile_cutoff_by_group

    rows = [(g, round(v, 4)) for g, v in rows]
    df = spark.createDataFrame(rows, "lang STRING, q DOUBLE")
    got = {r["lang"]: r["qcut"] for r in quantile_cutoff_by_group(df, "lang", "q", frac).collect()}
    by_g: dict[str, list[float]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        assert got[g] == vals[_math.ceil(frac * len(vals)) - 1], (g, vals, frac)


WORDS = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=5), min_size=2, max_size=12
).map(" ".join)


@settings(max_examples=6, deadline=None)
@given(st.lists(WORDS, min_size=1, max_size=6))
def test_span_overlap_first_doc_never_duplicated(spark, texts):
    """Keep-first semantics: the smallest doc_id can never have a nonzero
    duplicated-span fraction, and every fraction lies in [0, 1]."""
    from universal_aws_data_pipeline_spark.operators.dedup import span_overlap_profile

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    rows = {r["doc_id"]: r for r in span_overlap_profile(df, span_n=3).collect()}
    assert rows[0]["dup_span_frac"] == 0.0
    assert all(0.0 <= r["dup_span_frac"] <= 1.0 for r in rows.values())


def _shingles(txt: str) -> set:
    toks = re.sub(r"[^a-z0-9]+", " ", txt.lower()).strip().split(" ")
    if len(toks) >= 3:
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    return {" ".join(toks)}


def _round4(x: float) -> float:
    """Spark's ``round(x, 4)``: half-up on the shortest decimal form."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _brute_force_pairs(texts: list[str], t: float) -> tuple[dict, dict]:
    """All-pairs answers of both prefix-filter joins: unordered pairs with
    round(J, 4) >= t, and ordered pairs with unrounded containment >= t."""
    sh = {i: _shingles(txt) for i, txt in enumerate(texts)}
    jac, cont = {}, {}
    for a in sh:
        for b in sh:
            inter = len(sh[a] & sh[b])
            j = _round4(inter / len(sh[a] | sh[b]))
            if a < b and j >= t:
                jac[(a, b)] = j
            if a != b and inter / len(sh[a]) >= t:
                cont[(a, b)] = _round4(inter / len(sh[a]))
    return jac, cont


def _prefix_filter_pairs(spark, texts: list[str], t: float) -> tuple[dict, dict]:
    from universal_aws_data_pipeline_spark.operators.dedup import (
        containment_pairs_prefix_filter,
        jaccard_pairs_prefix_filter,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs_prefix_filter(df, threshold=t).collect()}
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs_prefix_filter(df, threshold=t).collect()
    }
    return jac, cont


@settings(max_examples=5, deadline=None)
@given(st.lists(WORDS, min_size=2, max_size=6), st.sampled_from([0.5, 0.7, 0.9]))
def test_containment_join_matches_brute_force(spark, texts, t):
    """Both prefix-filter measures equal brute force for ANY corpus and
    threshold: the Jaccard join (rounded to 4 dp) and the asymmetric
    containment join (unrounded), pairs and reported values."""
    assert _prefix_filter_pairs(spark, texts, t) == _brute_force_pairs(texts, t)


def test_prefix_filter_joins_keep_exact_boundary_pairs(spark):
    """Pairs sitting exactly on the threshold are kept: J = 0.5 at t = 0.5
    and containment = 0.8 at t = 0.8."""
    texts = [
        " ".join(f"t{i}" for i in range(9)),           # 7 shingles
        " ".join(f"t{i}" for i in range(6)) + " v",    # 5 shingles, 4 of them in doc 0
        " ".join(f"t{i}" for i in range(4)),           # 2 shingles, in docs 0 and 1
    ]
    jac, _ = _prefix_filter_pairs(spark, texts, 0.5)
    assert jac == {(0, 1): 0.5} == _brute_force_pairs(texts, 0.5)[0]  # 4 / (7 + 5 - 4)
    _, cont = _prefix_filter_pairs(spark, texts, 0.8)
    assert cont == {(1, 0): 0.8, (2, 0): 1.0, (2, 1): 1.0} == _brute_force_pairs(texts, 0.8)[1]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(TEXTS, min_size=1, max_size=8, unique=True),
    st.lists(TEXTS, min_size=1, max_size=8),
    st.integers(1, 12),
    st.integers(1, 5),
)
def test_bloom_dedup_equals_anti_join_for_any_sizing(spark, corpus_texts, batch_texts, bits_per_key, num_hashes):
    """The bloom fast path is an optimization, never an answer: for ANY
    corpus/batch/sizing, its output multiset equals the plain anti-join."""
    from universal_aws_data_pipeline_spark.operators.bloom import bloom_dedup_filter, build_bloom

    corpus = spark.createDataFrame([(i, t) for i, t in enumerate(corpus_texts)], "id LONG, text STRING")
    batch = spark.createDataFrame([(100 + i, t) for i, t in enumerate(batch_texts)], "id LONG, text STRING")
    bloom = build_bloom(corpus, "text", bits_per_key=bits_per_key, num_hashes=num_hashes)
    got = sorted(r["id"] for r in bloom_dedup_filter(batch, corpus, "text", bloom).collect())
    want = sorted(r["id"] for r in batch.join(corpus.select("text"), "text", "left_anti").collect())
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=25,
    )
)
def test_triangle_counts_match_brute_force(spark, pairs):
    """Degree-ordered enumeration equals the O(n^3) definition on any graph."""
    from itertools import combinations

    from universal_aws_data_pipeline_spark.operators.graph import triangle_counts

    und = {tuple(sorted(p)) for p in pairs}
    nodes = sorted({v for e in und for v in e})
    expected = {v: 0 for v in nodes}
    for a, b, c in combinations(nodes, 3):
        if (a, b) in und and (a, c) in und and (b, c) in und:
            expected[a] += 1
            expected[b] += 1
            expected[c] += 1
    df = spark.createDataFrame(list(und), "a INT, b INT")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=20,
    )
)
def test_pagerank_micro_mass_and_positivity(spark, pairs):
    """On any symmetrized graph: every rank positive, total mass within
    integer-floor slack of the budget (floor ops only ever LOSE sub-unit
    mass), and isolated-from-each-other symmetric edges keep exact symmetry."""
    from universal_aws_data_pipeline_spark.operators.graph import pagerank_micro

    und = {tuple(sorted(p)) for p in pairs}
    sym = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src INT, dst INT")
    total = 1_000_000_000_000
    rows = pagerank_micro(df, iterations=4, total_micro=total).collect()
    ranks = [r["rank_micro"] for r in rows]
    assert all(v > 0 for v in ranks)
    n = len({v for e in und for v in e})
    assert len(rows) == n
    # every floor division discards < 1 micro-unit; with <= n nodes, d+1
    # divisions per node per round, mass loss is bounded far under 1%
    assert total * 0.99 < sum(ranks) <= total


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=99_999), min_size=3, max_size=80),
    st.sampled_from([250, 500, 900]),
)
def test_histogram_quantile_error_bounded_by_bin_width(spark, cents, p_mille):
    """q159 sketch contract: for ANY in-domain data, the histogram estimate
    sits within one bin width of the exact percentile_disc value."""
    from universal_aws_data_pipeline_spark.operators.sketch import (
        histogram_quantiles,
        value_histogram,
    )

    width, nb = 10_000, 10  # domain [0, 100000)
    df = spark.createDataFrame([(c,) for c in cents], "v: long")
    hist = value_histogram(df, F.col("v"), 0, width, nb)
    est = histogram_quantiles(hist, [p_mille], 0, width).collect()[0]["est_cents"]
    s = sorted(cents)
    exact = s[(p_mille * (len(s) - 1)) // 1000]  # the sketch's rank rule
    assert abs(est - exact) <= width


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.integers(min_value=1, max_value=40),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=1, max_value=200),
)
def test_quota_allocation_invariants(spark, counts, budget):
    """Hamilton apportionment: quotas are non-negative integers, sum EXACTLY
    to the budget, and never deviate from the exact proportional share by a
    full unit (the largest-remainder quota property)."""
    from universal_aws_data_pipeline_spark.operators.sampling import quota_allocation

    rows = [(g,) for g, n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "source: string")
    got = {r["source"]: r["quota"] for r in quota_allocation(df, budget).collect()}
    total = sum(counts.values())
    assert sum(got.values()) == budget
    for g, n in counts.items():
        share = budget * n / total
        assert got[g] >= 0
        assert abs(got[g] - share) < 1.0  # floor(share) or floor(share)+1


@settings(max_examples=8, deadline=None)
@given(st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=30))
def test_token_entropy_bounds(spark, toks):
    """0 <= H <= ln(n_distinct), equality at single-token and uniform ends."""
    import math

    from universal_aws_data_pipeline_spark.operators.text import token_entropy

    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id: long, text: string")
    r = token_entropy(df).collect()[0]
    assert 0.0 <= r["entropy_nats"] <= round(math.log(max(r["n_distinct"], 1)), 4) + 1e-9


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=400
    ),
    data=st.data(),
)
def test_exact_ranks_multi_property(spark, vals, data):
    """Round-9 engine property: for ANY integer multiset and ANY valid rank
    set, the batched engine returns exactly the sorted-order statistics —
    including duplicate ranks, extremes, and tie-heavy inputs — with knobs
    forced small enough that refinement rounds and the batched finish both
    execute."""
    from universal_aws_data_pipeline_spark.operators.robust import exact_ranks_multi

    s = sorted(vals)
    n = len(s)
    ranks = data.draw(
        st.lists(st.integers(min_value=1, max_value=n), min_size=1, max_size=6)
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long").localCheckpoint()
    got = exact_ranks_multi(
        df, [(None, "v", r) for r in ranks], buckets=8, direct_cap=3
    )
    assert got == [s[r - 1] for r in ranks]


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-(2**40), max_value=2**40),
        ),
        min_size=1,
        max_size=300,
    ),
    data=st.data(),
)
def test_exact_ranks_grouped_property(spark, vals, data):
    """Round-10 grouped-engine property: for ANY (group, integer) multiset
    and ANY valid (group, rank) target set, the literal-map engine returns
    exactly the per-group sorted-order statistics — duplicate ranks,
    extremes, tie-heavy groups — with knobs forced small enough that
    refinement rounds and the batched finish both execute."""
    from universal_aws_data_pipeline_spark.operators.robust import exact_ranks_grouped

    by_g: dict[str, list[int]] = {}
    for g, v in vals:
        by_g.setdefault(g, []).append(v)
    for g in by_g:
        by_g[g].sort()
    groups = sorted(by_g)
    targets = data.draw(
        st.lists(
            st.sampled_from(groups).flatmap(
                lambda g: st.tuples(
                    st.just(g), st.integers(min_value=1, max_value=len(by_g[g]))
                )
            ),
            min_size=1,
            max_size=6,
        )
    )
    df = spark.createDataFrame(vals, "g string, v long").localCheckpoint()
    got = exact_ranks_grouped(df, "g", "v", targets, buckets=8, direct_cap=3)
    assert got == [by_g[g][r - 1] for g, r in targets]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 5)), min_size=1, max_size=24),
    st.integers(min_value=1, max_value=4),
)
def test_dp_counts_contribution_bound_invariant(spark, rows, cap):
    """Rows a user adds BEYOND the cap cannot move the release: the
    bounded count — and therefore the exact noisy value — is invariant to
    inflating any user's row count past ``cap`` (the sensitivity
    contract dp_group_counts' ε guarantee rests on)."""
    from universal_aws_data_pipeline_spark.operators.privacy import dp_group_counts

    df = spark.createDataFrame([(g, u) for g, u in rows], ["g", "u"])
    # inflate: every (g, u) appears cap + 3 extra times on top
    inflated = spark.createDataFrame(
        [(g, u) for g, u in rows for _ in range(cap + 3)] + [(g, u) for g, u in rows],
        ["g", "u"],
    )
    base = {
        r["g"]: r["noisy_count"]
        for r in dp_group_counts(df, ["g"], "u", 1.0, cap, "p", -1e9).collect()
    }
    infl = {
        r["g"]: r["noisy_count"]
        for r in dp_group_counts(inflated, ["g"], "u", 1.0, cap, "p", -1e9).collect()
    }
    if cap == 1:
        assert base == infl  # at cap=1 presence is all that counts
    else:
        # groups where every user already hit the cap must be unchanged
        from collections import Counter

        per = Counter(rows)
        for g in base:
            if all(c >= cap for (gg, _u), c in per.items() if gg == g):
                assert base[g] == infl[g]


@settings(max_examples=6, deadline=None)
@given(st.lists(WORDS, min_size=1, max_size=10))
def test_vocab_coverage_is_monotone_and_normalized(spark, words):
    """Coverage is nondecreasing in the budget and lands exactly at 1.0
    once the budget reaches the type count."""
    from universal_aws_data_pipeline_spark.operators.tokenizer import vocab_coverage

    df = spark.createDataFrame([(" ".join(words),)], ["text"])
    budgets = [1, 2, 3, 5, 100000]
    rows = {
        r["vocab_budget"]: r for r in vocab_coverage(df, budgets, "text").collect()
    }
    cov = [rows[b]["coverage"] for b in budgets]
    assert all(a <= b + 1e-12 for a, b in zip(cov, cov[1:]))
    assert rows[100000]["coverage"] == 1.0  # budget >= |types| clamps to full
    assert rows[100000]["tokens_covered"] == rows[100000]["total_tokens"]


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 2)), min_size=1, max_size=20))
def test_k_anonymize_ladder_levels_are_lawful(spark, rows):
    """Every assigned rung actually satisfies k, and no FINER rung would
    have (minimality of the global-recoding assignment)."""
    from collections import Counter

    from universal_aws_data_pipeline_spark.operators.privacy import k_anonymize_ladder

    k = 3
    df = spark.createDataFrame(rows, ["a", "b"])
    out = k_anonymize_ladder(df, levels=[["a", "b"], ["a"], []], k=k).collect()
    s0 = Counter((r[0], r[1]) for r in rows)
    s1 = Counter(r[0] for r in rows)
    n = len(rows)
    for r in out:
        sizes = [s0[(r["a"], r["b"])], s1[r["a"]], n]
        lvl = r["anon_level"]
        if lvl == 3:  # suppressed: lawful only when NO rung reaches k
            assert all(s < k for s in sizes)
            continue
        assert sizes[lvl] >= k  # the assigned rung really satisfies k
        for finer in range(lvl):
            assert sizes[finer] < k  # and no finer rung would have


@settings(max_examples=6, deadline=None)
@given(st.lists(WORDS, min_size=1, max_size=8), st.integers(1, 3))
def test_apply_merges_inverts_by_deleting_spaces(spark, texts, rounds):
    """Segmentation under ANY learned merge list preserves characters:
    deleting the segmentation spaces reconstructs the word exactly — the
    invariant the q227 oracle's word recovery rests on — and the symbol
    inventory equals the training loop's post-merge census (train/apply
    shared contract)."""
    from pyspark.sql import functions as F

    from universal_aws_data_pipeline_spark.operators.tokenizer import (
        apply_merges,
        bpe_learn_merges,
    )

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    learned = sorted(bpe_learn_merges(df, rounds).collect(), key=lambda r: r["round"])
    merges = [r["pair"] for r in learned]
    out = apply_merges(df, merges).collect()
    for r in out:
        assert r["seg"].replace(" ", "") == r["w"]
    if learned:
        seg_tbl = apply_merges(df, merges)
        n_symbols = (
            seg_tbl.select(F.explode(F.split("seg", " ")).alias("s"))
            .distinct()
            .count()
        )
        assert n_symbols == learned[-1]["n_symbols"]


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["u1", "u2", "u3"]), st.floats(0.01, 8.0)),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],
    )
)
def test_epsilon_ledger_totals_are_per_unit_sums(spark, entries):
    """eps_unit_total equals the plain sum of epsilons within each unit
    (basic sequential composition), for any registry shape."""
    from universal_aws_data_pipeline_spark.operators.privacy import (
        DpRelease,
        epsilon_ledger,
    )

    releases = [
        DpRelease(f"r{i}", "count", unit, round(e, 3), 1.0, f"dp:s{i}:")
        for i, (unit, e) in enumerate(entries)
    ]
    rows = epsilon_ledger(spark, releases).collect()
    by_unit: dict[str, float] = {}
    for r in releases:
        by_unit[r.unit] = by_unit.get(r.unit, 0.0) + r.epsilon
    for row in rows:
        assert abs(row["eps_unit_total"] - round(by_unit[row["unit"]], 4)) < 1e-9


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["d0", "d1", "d2"]),
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=14,
    ),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=10, max_value=120),
)
def test_cap_per_domain_matches_reference(spark, rows, doc_cap, token_cap):
    """For ANY corpus and caps, the kept set equals the Python reference:
    the rank-order prefix per domain, doc-capped then running-token-
    capped — never best-fit repacking, never an over-cap admit."""
    from universal_aws_data_pipeline_spark.operators.sampling import cap_per_domain

    data = [(dom, i, round(q, 4), t) for i, (dom, q, t) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "source string, doc_id long, quality double, n_tokens long"
    )
    kept = cap_per_domain(
        df, "source", doc_cap=doc_cap, token_cap=token_cap,
        order_by=[F.col("quality").desc()], token_col="n_tokens",
    )
    got = {(r.source, r.doc_id) for r in kept.collect()}
    want = set()
    by_dom: dict = {}
    for dom, doc_id, q, t in data:
        by_dom.setdefault(dom, []).append((-q, doc_id, t))
    for dom, docs in by_dom.items():
        docs.sort()
        cum = 0
        for rank, (_negq, doc_id, t) in enumerate(docs[:doc_cap], start=1):
            cum += t
            if cum <= token_cap:
                want.add((dom, doc_id))
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=5))
def test_unigram_viterbi_preserves_characters_any_corpus(spark, texts):
    """For ANY corpus: every (length-capped) vocab word segments under the
    seed model, deleting spaces recovers the word exactly, and the DP
    cost is a real path cost (below the unavailable-transition
    sentinel)."""
    from universal_aws_data_pipeline_spark.operators.tokenizer import (
        _UNI_BIG,
        _uni_seed,
        _uni_vocab,
        unigram_viterbi_segment,
    )

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    vocab = _uni_vocab(df)
    if vocab.count() == 0:
        return  # nothing tokenizable — vacuous
    seg = unigram_viterbi_segment(vocab, _uni_seed(vocab)).collect()
    assert len(seg) == vocab.count()
    for r in seg:
        assert r.seg.replace(" ", "") == r.w
        assert 0 <= r.cost < _UNI_BIG
