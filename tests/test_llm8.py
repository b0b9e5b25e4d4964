"""Wave-8 operators: MAD / Benford / KL against independent Python
recomputations under the same exactness contracts; Bellman-Ford on a
graph built so the cheapest path is NOT the fewest-hop path."""

import pytest
import math
import os
from collections import Counter

from hypothesis import example, given, settings
from hypothesis import strategies as st

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
LI_SCHEMA = "l_orderkey bigint, l_partkey bigint"


def _write(spark, tmp_path, name, rows, schema):
    d = str(tmp_path / "mini")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, f"{name}.parquet"))
    return d


def _median(sorted_vals):
    n = len(sorted_vals)
    return (sorted_vals[(n - 1) // 2] + sorted_vals[n // 2]) / 2.0


def test_value_mad_outliers_matches_python(spark, sf_dir):
    """Median, MAD, and the 3-MAD outlier count recomputed exactly from
    the raw parquet — no rounding anywhere means equality is exact."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "events.parquet"), columns=["event_type", "value"]
    )
    by_type = {}
    for ty, v in zip(
        t.column("event_type").to_pylist(), t.column("value").to_pylist()
    ):
        if v is not None:
            by_type.setdefault(ty, []).append(v)

    from ecommerce_lakehouse_spark.queries.llm8 import value_mad_outliers

    got = {r.event_type: r for r in value_mad_outliers(spark, sf_dir).collect()}
    assert set(got) == set(by_type)
    for ty, vals in by_type.items():
        med = _median(sorted(vals))
        mad = _median(sorted(abs(v - med) for v in vals))
        n_out = sum(1 for v in vals if abs(v - med) > 3.0 * mad)
        r = got[ty]
        assert (r.n, r.median_value, r.mad, r.n_outliers) == (
            len(vals),
            med,
            mad,
            n_out,
        )
        assert r.outlier_rate == n_out / len(vals)


def test_benford_matches_python(spark, sf_dir):
    """First digits from exact integer cents; shares and ratios exact."""
    import pyarrow.parquet as pq

    prices = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"), columns=["o_totalprice"]
    ).column("o_totalprice").to_pylist()
    digits = Counter(
        int(str(int(round(p * 100, 0)))[0]) for p in prices if p > 0
    )
    n = sum(digits.values())

    from ecommerce_lakehouse_spark.queries.llm8 import benford_first_digit

    rows = benford_first_digit(spark, sf_dir).collect()
    assert [r.digit for r in sorted(rows, key=lambda r: r.digit)] == list(
        range(1, 10)
    )
    for r in rows:
        exp_share = math.log10(1.0 + 1.0 / r.digit)
        assert r.n_obs == digits.get(r.digit, 0)
        assert r.obs_share == digits.get(r.digit, 0) / n
        assert r.benford_share == exp_share
        assert r.share_ratio == r.obs_share / exp_share


@pytest.mark.slow  # demoted r10 (VERDICT r09 #4): oracle/property coverage kept in the release gate
def test_source_kl_matches_python(spark, tmp_path):
    """Nano-contract KL recomputed by hand on a corpus where one source
    matches the corpus mix and one diverges hard."""
    texts = {
        1: ("a b a b", "s0"),
        2: ("a b a b", "s0"),
        3: ("a a a a", "s1"),
        4: ("a a a a", "s1"),
    }
    rows = [(i, t, "en", s, 0) for i, (t, s) in texts.items()]
    d = _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)

    st = Counter()
    for t, s in texts.values():
        for w in t.split():
            st[(s, w)] += 1
    n_s = Counter()
    c_t = Counter()
    for (s, w), c in st.items():
        n_s[s] += c
        c_t[w] += c
    n = sum(n_s.values())
    expected = {}
    for s in n_s:
        kl_n = sum(
            c * int(round(math.log((c * n) / (n_s[s] * c_t[w])) * 1e9))
            for (s2, w), c in st.items()
            if s2 == s
        )
        expected[s] = (
            n_s[s],
            len([1 for (s2, _) in st if s2 == s]),
            kl_n,
            (kl_n / n_s[s]) / 1e9,
        )

    from ecommerce_lakehouse_spark.queries.llm8 import source_kl_divergence

    got = {
        r.source: (r.n_tokens, r.n_distinct, r.kl_nanos, r.kl_divergence)
        for r in source_kl_divergence(spark, d).collect()
    }
    assert got == expected
    assert got["s1"][3] > got["s0"][3]  # the divergent source scores higher


@pytest.mark.slow  # demoted r10 (VERDICT r09 #4): oracle/property coverage kept in the release gate
def test_sssp_prefers_cheap_two_hop_over_direct_edge(spark, tmp_path):
    """Edge cost = ceil(100/support): 50 co-purchases make 1-2 and 2-3
    cost 2 each, one co-purchase makes the direct 1-3 edge cost 100, so
    dist(3) must be 4 via the two-hop path; an island pair stays out of
    n_reached."""
    rows = []
    ok = 1
    for _ in range(50):
        rows += [(ok, 1), (ok, 2)]
        ok += 1
    for _ in range(50):
        rows += [(ok, 2), (ok, 3)]
        ok += 1
    rows += [(ok, 1), (ok, 3)]
    ok += 1
    rows += [(ok, 10), (ok, 11)]
    d = _write(spark, tmp_path, "lineitem", rows, LI_SCHEMA)

    from ecommerce_lakehouse_spark.queries.llm8 import sssp_copurchase

    got = [
        (r.node, r.dist, r.n_reached)
        for r in sssp_copurchase(spark, d).collect()
    ]
    assert got == [(1, 0, 3), (2, 2, 3), (3, 4, 3)]


def _bpe_py(word_freq, steps=32):
    """Reference BPE trainer mirroring the padded-string replace
    convention (leftmost non-overlapping, like both engines' replace),
    the oracle's ``ORDER BY wc DESC, token, pair`` tie-break and the
    engine's 32-merge budget with early pair exhaustion. Recounts every
    pair every round — deliberately the naive form."""
    seqs = {w: " " + " ".join(w) + " " for w in word_freq}
    merges = []
    for _ in range(steps):
        pairs = {}
        for w, s in seqs.items():
            t = s.split()
            for a, b in zip(t, t[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + word_freq[w]
        if not pairs:
            break
        (a, b), wc = min(
            pairs.items(),
            key=lambda kv: (-kv[1], kv[0][0] + kv[0][1], f"{kv[0][0]} {kv[0][1]}"),
        )
        merges.append((a + " " + b, a + b, wc))
        seqs = {
            w: s.replace(f" {a} {b} ", f" {a}{b} ") for w, s in seqs.items()
        }
    return merges, seqs


@settings(max_examples=300, deadline=None)
@given(
    word_freq=st.dictionaries(
        st.text("abc", min_size=1, max_size=8),
        st.integers(1, 4),
        min_size=1,
        max_size=8,
    ),
    steps=st.integers(0, 40),
)
# one symbol run (non-overlapping replace): " a a a a " -> " aa a a "
@example(word_freq={"aaaa": 1}, steps=32)
# "aa a" / "a aa" both make "aaa" at equal count: the pair breaks the tie
@example(word_freq={"aaaaa": 2}, steps=32)
# "cb c" / "c bc" both make "cbc" at equal count, from different words
@example(word_freq={"cbcbc": 1, "acb": 3}, steps=32)
# tied counts, different tokens
@example(word_freq={"ab": 1, "cd": 1}, steps=32)
# pair exhaustion long before the budget
@example(word_freq={"ab": 2, "c": 1}, steps=32)
def test_bpe_merges_matches_reference(word_freq, steps):
    """The in-process merge rounds (incremental pair index) produce the
    reference trainer's merge table and final sequences exactly."""
    from ecommerce_lakehouse_spark.operators.bpe import bpe_merges

    words = list(word_freq)
    merges, seqs = bpe_merges(
        [(" " + " ".join(w) + " ", word_freq[w]) for w in words], steps
    )
    want_merges, want_seqs = _bpe_py(word_freq, steps)
    assert merges == [(k, *m) for k, m in enumerate(want_merges, 1)]
    assert dict(zip(words, seqs)) == want_seqs


def _group_jobs(sc, group, action):
    """Run ``action`` inside job group ``group``; return its job infos."""
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    return out, [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]


def test_bpe_train_launches_at_most_three_jobs(spark, sf_dir):
    """Training is one distributed word count plus one vocabulary
    collect — never a job per merge round — and the returned vocabulary
    reads the barriered word table instead of recounting the corpus."""
    from ecommerce_lakehouse_spark.operators import bpe

    bpe._train.cache_clear()
    sc = spark.sparkContext
    (merges, wf), jobs = _group_jobs(
        sc, "test_bpe_train", lambda: bpe.bpe_train(spark, sf_dir, 31)
    )
    assert len(jobs) <= 3, jobs
    # the training collect filled the barrier's blocks: reading the
    # vocabulary is one job of one stage, with no shuffle-map stage (run
    # as a separate job under AQE, or as a parent stage without it)
    rows, jobs = _group_jobs(
        sc, "test_bpe_vocab", wf.select("word", "freq", "seq").collect
    )
    assert [len(list(j.stageIds)) for j in jobs] == [1], jobs
    assert rows
    assert merges.count() == 31


def test_bpe_cache_is_bounded_lru(spark, tmp_path):
    """Training more distinct (sf_dir, steps) keys than the cache bound
    keeps at most the bound, evicting the least recently used; a hit
    returns the very same frames."""
    from ecommerce_lakehouse_spark.operators import bpe

    d = _write(
        spark, tmp_path, "documents", [(1, "banana band", "en", "s0", 0)], DOC_SCHEMA
    )
    bpe._train.cache_clear()
    n = bpe._train.cache_info().maxsize
    trained = {steps: bpe.bpe_train(spark, d, steps) for steps in range(1, n + 2)}
    assert bpe._train.cache_info().currsize == n
    assert bpe.bpe_train(spark, d, 2) is trained[2]
    # steps=1 was evicted first; retraining it evicts steps=3, since the
    # hit above made steps=2 more recent
    assert bpe.bpe_train(spark, d, 1) is not trained[1]
    assert bpe.bpe_train(spark, d, 2) is trained[2]
    assert bpe.bpe_train(spark, d, 3) is not trained[3]
    assert bpe._train.cache_info().currsize == n


def test_bpe_encode_stats_matches_python(spark, tmp_path):
    """Per-doc token accounting after the merge budget (exhausted early
    on this mini corpus) recomputed by a reference
    Python BPE that mirrors the padded-string replace convention."""
    texts = {
        1: "banana bandana",
        2: "banana banana ban",
        3: "an and band 123",
        4: "...",  # no alphabetic words -> no row
    }
    rows = [(i, t, "en", "s0", 0) for i, t in texts.items()]
    d = _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)

    import re

    wf = Counter()
    doc_words = {}
    for i, t in texts.items():
        ws = [w for w in re.sub("[^a-z]+", " ", t.lower()).split() if w]
        doc_words[i] = ws
        wf.update(ws)
    _, seqs = _bpe_py(wf)
    expected = {}
    for i, ws in doc_words.items():
        if not ws:
            continue
        n_tok = sum(len(seqs[w].split()) for w in ws)
        n_chr = sum(len(w) for w in ws)
        expected[i] = (len(ws), n_chr, n_tok, n_chr / n_tok)

    from ecommerce_lakehouse_spark.queries.llm6 import bpe_encode_stats

    got = {
        r.doc_id: (r.n_words, r.n_chars, r.n_tokens, r.chars_per_token)
        for r in bpe_encode_stats(spark, d).collect()
    }
    assert got == expected


def test_rrf_consistency(spark, sf_dir):
    """Each constituent list contributes ranks 1..20 exactly once; every
    fused score equals the closed form of its ranks."""
    from ecommerce_lakehouse_spark.queries.llm8 import rrf_hybrid_search

    rows = rrf_hybrid_search(spark, sf_dir).collect()
    lex = sorted(r.lex_rank for r in rows if r.lex_rank is not None)
    sem = sorted(r.sem_rank for r in rows if r.sem_rank is not None)
    assert lex == list(range(1, len(lex) + 1))
    assert sem == list(range(1, 21))
    for r in rows:
        want = (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (60 + r.sem_rank) if r.sem_rank else 0.0
        )
        assert r.rrf_score == want


def test_bootstrap_mean_ci_matches_python(spark, sf_dir):
    """Replicate means recomputed from the same md5-seeded Poisson
    weights and cent-exact decimal sums; replicate spread brackets the
    point estimate."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_totalprice"],
    )
    keys = t.column("o_orderkey").to_pylist()
    prices = [
        Decimal(p).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        for p in t.column("o_totalprice").to_pylist()
    ]
    from ecommerce_lakehouse_spark.queries.llm8 import _POIS_CDF

    cdf = [float(c) for c in _POIS_CDF]

    def w(r, k):
        h = int(hashlib.md5(f"boot|{r}|{k}".encode()).hexdigest()[:15], 16)
        u = (h + 0.5) / 1152921504606846976.0
        for i, c in enumerate(cdf):
            if u < c:
                return i
        return 10

    from ecommerce_lakehouse_spark.queries.llm8 import bootstrap_mean_ci

    got = {r.replicate: r for r in bootstrap_mean_ci(spark, sf_dir).collect()}
    assert got[0].n_eff == len(keys)
    assert got[0].mean_value == float(sum(prices)) / len(keys)
    for r in (1, 7, 32):
        ws = [w(r, k) for k in keys]
        n_eff = sum(ws)
        s = sum(p * wt for p, wt in zip(prices, ws))
        assert got[r].n_eff == n_eff
        assert got[r].mean_value == float(s) / n_eff
    reps = [got[r].mean_value for r in range(1, 33)]
    assert min(reps) < got[0].mean_value < max(reps)


def test_chi2_crosstab_matches_python(spark, sf_dir):
    """Cells, margins, expected and per-cell chi-square terms recomputed
    exactly."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderpriority", "o_orderstatus"],
    )
    cells = Counter(
        zip(
            t.column("o_orderpriority").to_pylist(),
            t.column("o_orderstatus").to_pylist(),
        )
    )
    rm = Counter()
    cm = Counter()
    for (p, s), c in cells.items():
        rm[p] += c
        cm[s] += c
    n = sum(cells.values())

    from ecommerce_lakehouse_spark.queries.llm8 import (
        priority_status_independence,
    )

    rows = priority_status_independence(spark, sf_dir).collect()
    assert len(rows) == len(cells)
    for r in rows:
        exp = (rm[r.priority] * cm[r.status]) / n
        assert r.n_obs == cells[(r.priority, r.status)]
        assert r.expected == exp
        assert r.chi2_term == (r.n_obs - exp) * (r.n_obs - exp) / exp


def test_trimmed_mean_matches_python(spark, sf_dir):
    """Exact row-rank trim semantics recomputed over sorted cent values."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "events.parquet"), columns=["event_type", "value"]
    )
    by_type = {}
    for ty, v in zip(
        t.column("event_type").to_pylist(), t.column("value").to_pylist()
    ):
        if v is not None:
            by_type.setdefault(ty, []).append(int(round(v * 100)))

    from ecommerce_lakehouse_spark.queries.llm8 import value_trimmed_mean

    got = {r.event_type: r for r in value_trimmed_mean(spark, sf_dir).collect()}
    for ty, cents in by_type.items():
        cents.sort()
        n = len(cents)
        trim = n * 5 // 100
        kept = cents[trim : n - trim]
        r = got[ty]
        assert (r.n, r.n_trimmed_each_side) == (n, trim)
        assert r.trimmed_mean == (sum(kept) / len(kept)) / 100.0
        assert r.raw_mean == (sum(cents) / n) / 100.0
        assert r.trimmed_mean != r.raw_mean  # the tails do move the number


def test_exp_smoothing_matches_python(spark, sf_dir):
    """The fold must equal the sequential recursion bit-for-bit."""
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderdate", "o_totalprice"],
    )
    m = {}
    for d, p in zip(
        t.column("o_orderdate").to_pylist(), t.column("o_totalprice").to_pylist()
    ):
        key = (d.year, d.month)
        m[key] = m.get(key, Decimal(0)) + Decimal(p).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
    series = [float(m[k]) for k in sorted(m)]
    smoothed = [series[0]]
    for x in series[1:]:
        smoothed.append(0.3 * x + (1.0 - 0.3) * smoothed[-1])

    from ecommerce_lakehouse_spark.queries.llm8 import exp_smoothing_revenue

    rows = sorted(exp_smoothing_revenue(spark, sf_dir).collect(),
                  key=lambda r: r.month)
    assert [r.revenue for r in rows] == series
    assert [r.smoothed for r in rows] == smoothed


def test_gini_matches_python_and_bounds(spark, sf_dir):
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_custkey", "o_totalprice"],
    )
    spend = {}
    for k, p in zip(
        t.column("o_custkey").to_pylist(), t.column("o_totalprice").to_pylist()
    ):
        spend[k] = spend.get(k, Decimal(0)) + Decimal(p).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
    cents = sorted(int(v * 100) for v in spend.values())
    n = len(cents)
    tot = sum(cents)
    wsum = sum((i + 1) * x for i, x in enumerate(cents))
    gini = (2.0 * wsum) / (float(n) * tot) - float(n + 1) / n

    from ecommerce_lakehouse_spark.queries.llm8 import customer_spend_gini

    r = customer_spend_gini(spark, sf_dir).collect()[0]
    assert r.n_customers == n
    assert r.total_spend == tot / 100.0
    assert r.gini == gini
    assert 0.0 <= r.gini < 1.0


@pytest.mark.slow  # demoted r10 (VERDICT r09 #4): oracle/property coverage kept in the release gate
def test_association_rules_matches_python(spark, tmp_path):
    """Hand basket set with a positively associated pair (lift > 1) and
    a popularity-only pair (lift < 1)."""
    baskets = {
        1: [1, 2],
        2: [1, 2],
        3: [1, 2],
        4: [1, 3],
        5: [2, 3],
        6: [3, 4],
        7: [1, 2, 3],
    }
    rows = [(ok, p) for ok, parts in baskets.items() for p in parts]
    d = _write(spark, tmp_path, "lineitem", rows, LI_SCHEMA)

    item = Counter(p for parts in baskets.values() for p in set(parts))
    pairs = Counter()
    for parts in baskets.values():
        ps = sorted(set(parts))
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                pairs[(a, b)] += 1
    n = len(baskets)

    from ecommerce_lakehouse_spark.queries.llm8 import basket_association_rules

    got = {
        (r.part_a, r.part_b): r
        for r in basket_association_rules(spark, d).collect()
    }
    assert set(got) == set(pairs)
    for (a, b), r in got.items():
        assert (r.n_both, r.n_a, r.n_b) == (pairs[(a, b)], item[a], item[b])
        assert r.confidence_ab == pairs[(a, b)] / item[a]
        assert r.confidence_ba == pairs[(a, b)] / item[b]
        assert r.lift == (n * pairs[(a, b)]) / (item[a] * item[b])
    assert got[(1, 2)].lift > 1.0
    assert got[(2, 3)].lift < 1.0


def test_interarrival_matches_python(spark, sf_dir):
    """Gaps, mean, median and p90 recomputed from floored epochs."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "ts", "user_id", "event_type"],
    ).to_pylist()
    seqs = {}
    for r in t:
        key = (r["user_id"], r["event_type"])
        seqs.setdefault(key, []).append(
            (r["ts"], r["event_id"], int(r["ts"].timestamp() // 1))
        )
    gaps = {}
    for (u, ty), evs in seqs.items():
        evs.sort(key=lambda x: (x[0], x[1]))
        for a, b in zip(evs, evs[1:]):
            gaps.setdefault(ty, []).append(b[2] - a[2])

    from ecommerce_lakehouse_spark.queries.llm8 import event_interarrival_stats

    got = {r.event_type: r for r in event_interarrival_stats(spark, sf_dir).collect()}
    assert set(got) == set(gaps)
    for ty, gs in gaps.items():
        gs.sort()
        n = len(gs)
        med = (gs[(n - 1) // 2] + gs[n // 2]) / 2.0
        r = got[ty]
        assert r.n_gaps == n
        assert r.mean_gap_s == sum(gs) / n
        assert r.median_gap_s == med
        assert r.p90_gap_s == gs[(9 * n + 9) // 10 - 1]


def test_ab_test_lift_matches_python(spark, sf_dir):
    """Arms, conversions, rates and z recomputed from the same hash
    split; the A/A design means |z| should be modest."""
    import hashlib
    import math as m

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["user_id", "event_type", "value"],
    ).to_pylist()
    conv = {}
    for r in t:
        u = r["user_id"]
        arm = (
            "A"
            if int(hashlib.md5(f"ab|{u}".encode()).hexdigest()[:8], 16) % 2 == 0
            else "B"
        )
        key = (u, arm)
        hit = 1 if (
            r["event_type"] == "purchase"
            and r["value"] is not None
            and r["value"] > 150.0
        ) else 0
        conv[key] = max(conv.get(key, 0), hit)
    na = sum(1 for (_, a) in conv if a == "A")
    nb = sum(1 for (_, a) in conv if a == "B")
    ca = sum(v for (_, a), v in conv.items() if a == "A")
    cb = sum(v for (_, a), v in conv.items() if a == "B")

    from ecommerce_lakehouse_spark.queries.llm8 import ab_test_lift

    r = ab_test_lift(spark, sf_dir).collect()[0]
    assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (na, ca, nb, cb)
    assert r.rate_a == ca / na and r.rate_b == cb / nb
    assert r.relative_lift == (cb / nb) / (ca / na) - 1.0
    pooled = (ca + cb) / (na + nb)
    assert r.z_score == ((cb / nb) - (ca / na)) / m.sqrt(
        pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb)
    )
    assert abs(r.z_score) < 4.0  # A/A: the splitter is unbiased


def test_column_entropy_matches_python(spark, sf_dir):
    import math as m

    import pyarrow.parquet as pq

    from ecommerce_lakehouse_spark.queries.llm8 import (
        _ENTROPY_COLS,
        column_entropy_profile,
    )

    got = {
        r.column_name: r for r in column_entropy_profile(spark, sf_dir).collect()
    }
    assert set(got) == {f"{t}.{c}" for t, c in _ENTROPY_COLS}
    for tbl, col in _ENTROPY_COLS:
        vals = Counter(
            pq.read_table(
                os.path.join(sf_dir, f"{tbl}.parquet"), columns=[col]
            ).column(col).to_pylist()
        )
        n = sum(vals.values())
        ent_sum = -sum(
            c * int(round(m.log(c / n) * 1e9)) for c in vals.values()
        )
        r = got[f"{tbl}.{col}"]
        assert (r.n_distinct, r.n_rows, r.ent_sum_n) == (len(vals), n, ent_sum)
        assert r.entropy_nats == ent_sum / n / 1e9
        assert 0.0 <= r.entropy_nats <= m.log(len(vals)) + 1e-9


def test_acf_matches_python(spark, sf_dir):
    """Lag products recomputed with the identical sequential fold order;
    lag 0 must be exactly 1."""
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderdate", "o_totalprice"],
    )
    m = {}
    for d, p in zip(
        t.column("o_orderdate").to_pylist(), t.column("o_totalprice").to_pylist()
    ):
        key = (d.year, d.month)
        m[key] = m.get(key, Decimal(0)) + Decimal(p).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
    a = [float(m[k]) for k in sorted(m)]
    n = len(a)
    mu_s = 0.0
    for x in a:
        mu_s += x
    mu = mu_s / n
    denom = 0.0
    for x in a:
        denom += (x - mu) * (x - mu)

    from ecommerce_lakehouse_spark.queries.llm8 import revenue_autocorrelation

    got = {r.lag: r for r in revenue_autocorrelation(spark, sf_dir).collect()}
    assert set(got) == {0, 1, 2, 3}
    for k in range(0, 4):
        num = 0.0
        for i in range(n - k):
            num += (a[i] - mu) * (a[i + k] - mu)
        assert got[k].n == n
        assert got[k].acf == num / denom
    assert got[0].acf == 1.0
    assert all(abs(got[k].acf) < 1.0 for k in (1, 2, 3))


def test_cusum_matches_python(spark, sf_dir):
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderdate", "o_totalprice"],
    )
    daily = {}
    for d, p in zip(
        t.column("o_orderdate").to_pylist(), t.column("o_totalprice").to_pylist()
    ):
        key = d.date()
        daily[key] = daily.get(key, Decimal(0)) + Decimal(p).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
    days = sorted(daily)
    cents = [int(daily[k] * 100) for k in days]
    n, tot = len(cents), sum(cents)
    best = None
    cum = 0
    for i, (day, c) in enumerate(zip(days, cents), start=1):
        cum += c
        s = (float(cum) - float(i) * (float(tot) / n)) / 100.0
        if best is None or abs(s) > abs(best[1]):
            best = (day, s)

    from ecommerce_lakehouse_spark.queries.llm8 import revenue_cusum_changepoint

    r = revenue_cusum_changepoint(spark, sf_dir).collect()[0]
    assert r.changepoint_day == best[0]
    assert r.cusum_at_peak == best[1]
    assert r.max_abs_cusum == abs(best[1])
    assert r.n_days == n
    assert r.mean_daily == (float(tot) / n) / 100.0


def test_km_matches_python(spark, sf_dir):
    """Survival products recomputed with the identical ordered fold;
    curve must be non-increasing in (0, 1]."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_custkey", "o_orderdate"],
    )
    span = {}
    for k, d in zip(
        t.column("o_custkey").to_pylist(), t.column("o_orderdate").to_pylist()
    ):
        day = d.date()
        lo, hi = span.get(k, (day, day))
        span[k] = (min(lo, day), max(hi, day))
    mx = max(hi for _, hi in span.values())
    import datetime as dt

    cutoff = mx - dt.timedelta(days=90)
    lt = {}
    for lo, hi in span.values():
        tdays = (hi - lo).days
        d, c = lt.get(tdays, (0, 0))
        lt[tdays] = (d + (1 if hi < cutoff else 0), c + 1)
    times = sorted(lt)
    n_risk = {}
    acc = 0
    for tdays in reversed(times):
        acc += lt[tdays][1]
        n_risk[tdays] = acc
    expected = {}
    s = 1.0
    for tdays in times:
        d = lt[tdays][0]
        if d > 0:
            s = s * (1.0 - d / n_risk[tdays]) if expected else (
                1.0 - d / n_risk[tdays]
            )
            expected[tdays] = (n_risk[tdays], d, s)

    from ecommerce_lakehouse_spark.queries.llm8 import customer_survival_km

    got = {
        r.t_days: (r.n_at_risk, r.n_events, r.survival)
        for r in customer_survival_km(spark, sf_dir).collect()
    }
    assert got == expected
    curve = [got[tdays][2] for tdays in sorted(got)]
    assert all(0.0 < v <= 1.0 for v in curve)
    assert all(a >= b for a, b in zip(curve, curve[1:]))


def test_contrastive_negatives_matches_python(spark, sf_dir):
    """Pairs recomputed from the same salted-hash ranking: 4 negatives
    per BM25 anchor, none of them a scored (positive-side) doc."""
    import hashlib

    from ecommerce_lakehouse_spark.queries.llm7 import bm25_search
    from ecommerce_lakehouse_spark.queries.llm8 import contrastive_negatives

    anchors = [r.doc_id for r in bm25_search(spark, sf_dir).collect()]
    import pyarrow.parquet as pq

    all_ids = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
    ).column("doc_id").to_pylist()
    pool = [i for i in all_ids if i not in set(anchors)]

    def u(a, n):
        h = int(hashlib.md5(f"neg|{a}|{n}".encode()).hexdigest()[:15], 16)
        return (h + 0.5) / 1152921504606846976.0

    thr = 64.0 / len(pool)
    expected = set()
    for a in anchors:
        kept = sorted(
            ((u(a, n), n) for n in pool if u(a, n) < thr)
        )[:4]
        for rank, (_, n) in enumerate(kept, start=1):
            expected.add((a, n, rank))

    got = {
        (r.anchor_id, r.neg_id, r.neg_rank)
        for r in contrastive_negatives(spark, sf_dir).collect()
    }
    assert got == expected
    assert len(got) == 4 * len(anchors)
    assert not {n for _, n, _ in got} & set(anchors)


def test_seasonality_matches_python(spark, sf_dir):
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderdate", "o_totalprice"],
    )
    cells = {}
    for d, p in zip(
        t.column("o_orderdate").to_pylist(), t.column("o_totalprice").to_pylist()
    ):
        key = (d.month, d.isoweekday())
        n, c = cells.get(key, (0, Decimal(0)))
        cells[key] = (
            n + 1,
            c + Decimal(p).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP),
        )
    ntot = sum(n for n, _ in cells.values())
    ctot = sum(int(c * 100) for _, c in cells.values())

    from ecommerce_lakehouse_spark.queries.llm8 import orders_seasonality

    got = {
        (r.month, r.iso_weekday): r
        for r in orders_seasonality(spark, sf_dir).collect()
    }
    assert set(got) == set(cells)
    for key, (n, c) in cells.items():
        r = got[key]
        cents = int(c * 100)
        assert r.n_orders == n
        assert r.revenue == cents / 100.0
        assert r.order_share == n / ntot
        assert r.revenue_share == float(cents) / ctot
