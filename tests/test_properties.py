"""Hypothesis property tests (SURVEY §5.2): algebraic equivalences the
example-based suites can't sweep — salted ≡ plain aggregation, as-of join
≡ brute force, sequence-build padding invariants.  Few examples, tiny
frames: each example runs real Spark jobs.
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from big_data_bowl_spark.operators.asof import asof_join
from big_data_bowl_spark.operators.sequences import build_sequences
from big_data_bowl_spark.operators.skew import salted_agg

# integer-valued doubles: exact under any summation order, so the salted
# two-phase total matches the plain agg bit-for-bit
_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(-100, 100)),
    min_size=1, max_size=30)


@settings(max_examples=6, deadline=None)
@given(rows=_rows, n_salts=st.integers(1, 8))
def test_salted_agg_equals_plain(spark, rows, n_salts):
    df = spark.createDataFrame(
        [Row(k=k, v=float(v)) for k, v in rows])
    got = {r.k: (r.total, r.n, r.min, r.max, r.mean)
           for r in salted_agg(df, ["k"], "v", n_salts=n_salts).collect()}
    from collections import defaultdict
    by_k = defaultdict(list)
    for k, v in rows:
        by_k[k].append(float(v))
    for k, vs in by_k.items():
        total, n, mn, mx, mean = got[k]
        assert total == sum(vs) and n == len(vs)
        assert mn == min(vs) and mx == max(vs)
        assert abs(mean - sum(vs) / len(vs)) < 1e-9


@settings(max_examples=6, deadline=None)
@given(data=st.data())
def test_asof_join_matches_bruteforce(spark, data):
    left = data.draw(st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1, max_size=12), label="left")
    right_keys = data.draw(st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1, max_size=12, unique=True), label="right")
    ldf = spark.createDataFrame(
        [Row(k=k, ts=t, lid=i) for i, (k, t) in enumerate(left)])
    rdf = spark.createDataFrame(
        [Row(k=k, ts=t, payload=float(k * 1000 + t))
         for k, t in right_keys])
    got = {r.lid: r.payload_asof
           for r in asof_join(ldf, rdf, ["k"], "ts", ["payload"]).collect()}
    for i, (k, lts) in enumerate(left):
        cands = [t for (rk, t) in right_keys if rk == k and t <= lts]
        expected = float(k * 1000 + max(cands)) if cands else None
        assert got[i] == expected, (i, k, lts, cands)


@settings(max_examples=6, deadline=None)
@given(sizes=st.lists(st.integers(1, 9), min_size=1, max_size=5),
       max_len=st.integers(1, 6))
def test_sequence_build_padding_invariants(spark, sizes, max_len):
    rows = [Row(g=gi, o=j, f=float(j + 1))
            for gi, n in enumerate(sizes) for j in range(n)]
    seq = build_sequences(spark.createDataFrame(rows), ["g"], "o", ["f"],
                          max_len=max_len, keep="last")
    got = {r.g: r for r in seq.collect()}
    assert set(got) == set(range(len(sizes)))
    for gi, n in enumerate(sizes):
        r = got[gi]
        assert len(r.seq) == max_len               # always padded/truncated
        assert r.real_len == min(n, max_len)
        # kept steps are the LAST real_len order values, ascending
        kept = [step[0] for step in r.seq[:r.real_len]]
        assert kept == [float(j + 1) for j in range(max(0, n - max_len), n)]
        # padding rows are all zeros
        assert all(step[0] == 0.0 for step in r.seq[r.real_len:])


@settings(max_examples=6, deadline=None)
@given(data=st.data())
def test_interval_join_matches_bruteforce(spark, data):
    """Bucketed interval join ≡ Python brute force for arbitrary point
    sets and intervals, across bucket widths smaller than, comparable to,
    and larger than the intervals — including zero-length and
    bucket-boundary-straddling intervals."""
    import datetime as dt

    from big_data_bowl_spark.operators.ranges import interval_join

    base = dt.datetime(2024, 1, 1)

    def m(minute):
        return base + dt.timedelta(minutes=minute)

    left = data.draw(st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 240)),
        min_size=1, max_size=10), label="left")
    right = data.draw(st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 240),
                  st.integers(0, 90)),
        min_size=1, max_size=6), label="right")
    ldf = spark.createDataFrame(
        [Row(k=k, ts=m(t), lid=i) for i, (k, t) in enumerate(left)])
    rdf = spark.createDataFrame(
        [Row(k=k, s=m(t), e=m(t + d), tag=j)
         for j, (k, t, d) in enumerate(right)])
    expected = sorted(
        (i, j)
        for i, (lk, lt) in enumerate(left)
        for j, (rk, rt, rd) in enumerate(right)
        if lk == rk and rt <= lt <= rt + rd)
    width = data.draw(st.sampled_from([60, 1800, 86400]), label="width")
    got = sorted((r.lid, r.tag) for r in interval_join(
        ldf, rdf, left_ts="ts", right_start="s", right_end="e",
        on=[("k", "k")], payload=["tag"],
        bucket_seconds=width).collect())
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(vals=st.lists(st.integers(-10_000_000, 10_000_000),
                     min_size=1, max_size=25))
def test_cents_roundtrip_exact(spark, vals):
    """cents(): any 2-decimal money value (here cents/100 over ±1e5
    dollars) maps back to its exact integer cents — the invariant the
    engine-stable averages depend on."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.functions.scalar import cents

    df = spark.createDataFrame(
        [Row(i=i, v=c / 100.0) for i, c in enumerate(vals)])
    got = {r.i: r.c for r in
           df.select("i", cents(F.col("v")).alias("c")).collect()}
    assert got == {i: c for i, c in enumerate(vals)}


@settings(max_examples=6, deadline=None)
@given(base=st.lists(st.tuples(st.integers(0, 9), st.integers(-50, 50)),
                     min_size=0, max_size=12, unique_by=lambda t: t[0]),
       changes=st.lists(st.tuples(st.integers(0, 12), st.integers(-50, 50),
                                  st.sampled_from(["U", "D"])),
                        min_size=0, max_size=10, unique_by=lambda t: t[0]))
def test_merge_upsert_matches_dict_model(spark, base, changes):
    """MERGE ≡ the obvious dict model: apply upserts/deletes to a map."""
    from big_data_bowl_spark.operators.merge import merge_upsert
    b = spark.createDataFrame(base or [(99, 0)], "k int, v int")
    c = spark.createDataFrame(changes or [(98, 0, "D")],
                              "k int, v int, op string")
    got = {r["k"]: r["v"]
           for r in merge_upsert(b, c, keys=["k"]).collect()}
    model = dict(base or [(99, 0)])
    for k, v, op in (changes or [(98, 0, "D")]):
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = v
    assert got == model


@settings(max_examples=6, deadline=None)
@given(seq=st.lists(st.sampled_from(["a", "b", "c", "x"]),
                    min_size=0, max_size=12))
def test_funnel_stage_matches_python_fold(spark, seq):
    """The in-row funnel fold ≡ a python walk over the ordered events."""
    from big_data_bowl_spark.operators.scd import funnel_stages
    import datetime as dt
    rows = [(1, dt.datetime(2024, 1, 1, 0, 0, i), s)
            for i, s in enumerate(seq)] or \
           [(1, dt.datetime(2024, 1, 1), "x")]
    e = spark.createDataFrame(rows, "u int, ts timestamp, et string")
    got = funnel_stages(e, "u", "ts", "et", ["a", "b", "c"]).collect()
    steps, stage = ["a", "b", "c"], 0
    for _, _, s in sorted(rows, key=lambda r: r[1]):
        if stage < 3 and s == steps[stage]:
            stage += 1
    assert got[0]["stage"] == stage, (seq, got, stage)


@settings(max_examples=8, deadline=None)
@given(names=st.lists(
    st.text(alphabet="abc", min_size=1, max_size=8), min_size=2,
    max_size=12, unique=True))
def test_edit_distance_pairs_equals_brute_force(spark, names):
    """Ed-Join prefix filtering + the short-string band path together are
    COMPLETE: the pruned join equals brute force for any mix of strings
    above and below the pigeonhole length q*(d+1) — the short regime
    ("ab" vs "cd" shares no gram yet sits at distance 2) is exactly what
    the band path exists for."""
    from big_data_bowl_spark.pipeline.dedup import (
        deletion_neighborhood_pairs,
        edit_distance_pairs,
    )
    d = 2
    df = spark.createDataFrame(list(enumerate(names)), "k int, s string")
    got = {(r.key_a, r.key_b, r.dist)
           for r in edit_distance_pairs(
               df, max_dist=d, q=2, id_col="k", string_col="s").collect()}
    got_del = {(r.key_a, r.key_b, r.dist)
               for r in deletion_neighborhood_pairs(
                   df, max_dist=d, id_col="k", string_col="s").collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {(i, j, lev(names[i], names[j]))
            for i in range(len(names)) for j in range(i + 1, len(names))
            if lev(names[i], names[j]) <= d}
    assert got == want, (names, got ^ want)
    assert got_del == want, (names, got_del ^ want)


# quota_sample ≡ the greedy Python reference: visit rows in the same
# neutral-hash order, keep while the running total fits the budget
@settings(max_examples=6, deadline=None)
@given(sizes=st.lists(st.integers(1, 50), min_size=1, max_size=20),
       budget=st.integers(1, 300))
def test_quota_sample_equals_greedy_reference(spark, sizes, budget):
    from big_data_bowl_spark.pipeline.sampling import quota_sample

    from pyspark.sql import functions as F

    from big_data_bowl_spark.pipeline.sampling import wang_mixed_hash

    df = spark.createDataFrame(
        [Row(g="a", k=i, sz=s) for i, s in enumerate(sizes)])
    order = [r.k for r in df.select(
        "k", wang_mixed_hash(F.col("k")).alias("h"))
        .orderBy("h", "k").collect()]
    want, total = set(), 0
    by_key = dict(enumerate(sizes))
    for k in order:
        if total + by_key[k] > budget:
            break
        total += by_key[k]
        want.add(k)
    got = {r.k for r in quota_sample(df, "g", "k", "sz", budget).collect()}
    assert got == want, (sizes, budget, got, want)


# triangle_count ≡ naive enumeration on random graphs (incl. hubs: the
# degree-oriented join must COUNT the same even where it prunes fan-out)
@settings(max_examples=6, deadline=None)
@given(edges=st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1, max_size=40))
def test_triangle_count_equals_naive(spark, edges):
    from itertools import combinations

    from big_data_bowl_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in edges])
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}

    und = {frozenset(e) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    want = {}
    for x, y, z in combinations(sorted(nodes), 3):
        if {frozenset((x, y)), frozenset((y, z)),
                frozenset((x, z))} <= und:
            for n in (x, y, z):
                want[n] = want.get(n, 0) + 1
    assert got == want, (sorted(und), got, want)


def _wang_py(key: int) -> int:
    h = ((key % (1 << 31)) * 2654435761) % (1 << 32)
    for _ in range(2):
        h = ((h ^ (h >> 16)) * 0x45D9F3B) % (1 << 32)
    return h ^ (h >> 16)


# quantile_sketch_state ≡ the python bottom-k by the same hash chain
@settings(max_examples=6, deadline=None)
@given(rows=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 500),
                               st.integers(-100, 100)),
                     min_size=1, max_size=30,
                     unique_by=lambda t: (t[0], t[1])),
       k=st.integers(1, 8))
def test_quantile_sketch_state_equals_python_bottomk(spark, rows, k):
    from big_data_bowl_spark.operators.sketches import quantile_sketch_state

    df = spark.createDataFrame(
        [Row(g=g, key=key, v=float(v)) for g, key, v in rows])
    got = {(r.g, r.key, r.qs_hash, r.v) for r in
           quantile_sketch_state(df, ["g"], "v", "key", k=k).collect()}
    want = set()
    for g in {g for g, _, _ in rows}:
        members = sorted(((_wang_py(key), key, v)
                          for gg, key, v in rows if gg == g))
        want |= {(g, key, h, float(v)) for h, key, v in members[:k]}
    assert got == want, (rows, k, got ^ want)


# KS DECIMAL branch ≡ int64 branch ≡ brute-force D on shared-range
# inputs: the scale fallback must be bit-identical where both apply
@settings(max_examples=8, deadline=None)
@given(cells=st.lists(
    st.tuples(st.integers(0, 30), st.booleans()),
    min_size=2, max_size=60).filter(
        lambda c: any(b for _, b in c) and any(not b for _, b in c)))
def test_ks_decimal_branch_matches_int64(spark, cells):
    from big_data_bowl_spark.operators.drift import ks_two_sample

    df = spark.createDataFrame(
        [Row(value=float(v), is_a=int(b)) for v, b in cells])
    fast = ks_two_sample(df, "value", "is_a").collect()[0]
    slow = ks_two_sample(df, "value", "is_a",
                         force_decimal=True).collect()[0]
    assert (fast["na"], fast["nb"]) == (slow["na"], slow["nb"])
    assert fast["ks_stat"] == slow["ks_stat"], (fast, slow)

    # brute force: D = max over distinct values of |F_a - F_b|
    a = sorted(v for v, b in cells if b)
    b_ = sorted(v for v, b in cells if not b)
    vals = sorted({v for v, _ in cells})
    want = max(
        abs(sum(1 for x in a if x <= v) / len(a)
            - sum(1 for x in b_ if x <= v) / len(b_))
        for v in vals)
    assert abs(fast["ks_stat"] - round(want, 6)) <= 1e-6, (fast, want)


@settings(max_examples=6, deadline=None)
@given(pts=st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                    min_size=1, max_size=40))
def test_skyline_2d_equals_naive_dominance(spark, pts):
    """The distributed prefix-max skyline equals the O(n²) dominance
    definition on arbitrary (incl. heavily tied) integer point sets."""
    from big_data_bowl_spark.operators.windows import skyline_2d
    df = spark.createDataFrame(
        [Row(i=i, a=a, b=b) for i, (a, b) in enumerate(pts)])
    got = {(r.a, r.b) for r in skyline_2d(df, "a", "b").collect()}
    naive = {(a, b) for (a, b) in pts
             if not any((a2 >= a and b2 >= b and (a2 > a or b2 > b))
                        for (a2, b2) in pts)}
    assert got == naive


@settings(max_examples=6, deadline=None)
@given(rows=st.lists(st.tuples(st.integers(0, 5), st.booleans()),
                     min_size=2, max_size=60))
def test_referential_profile_counts_planted_orphans(spark, rows):
    """Orphan/null classification matches a Python fold when orphans and
    NULL keys are planted explicitly."""
    from big_data_bowl_spark.operators.checks import referential_profile
    fact = spark.createDataFrame(
        [Row(fk=(None if null else k)) for k, null in rows],
        "fk int")
    dim = spark.createDataFrame([Row(pk=k) for k in (0, 1, 2)])
    out = referential_profile([("f->d", fact, ["fk"], dim, ["pk"])]) \
        .collect()[0]
    n_null = sum(1 for _, null in rows if null)
    n_orph = sum(1 for k, null in rows if not null and k > 2)
    assert out.n_rows == len(rows)
    assert out.n_null_keys == n_null
    assert out.n_orphans == n_orph


def test_mutual_information_independent_and_identical(spark):
    """MI ≈ 0 for independent columns; MI = H for identical columns
    (NMI = 1) — the two analytic anchors."""
    import math
    from big_data_bowl_spark.operators.aggregates import mutual_information
    # independent: every (x, y) cell equally likely
    indep = spark.createDataFrame(
        [Row(x=i % 2, y=(i // 2) % 3) for i in range(60)])
    r = mutual_information(indep, "x", "y").collect()[0]
    assert abs(r.mi) < 1e-6 and abs(r.nmi) < 1e-6
    # identical: MI = H(X) = ln(2), NMI = 1
    ident = spark.createDataFrame([Row(x=i % 2, y=i % 2) for i in range(40)])
    r = mutual_information(ident, "x", "y").collect()[0]
    assert abs(r.mi - math.log(2)) < 1e-5
    assert abs(r.nmi - 1.0) < 1e-5


def test_dsir_weights_prefer_target_like_docs(spark):
    """Documents drawn from the target vocabulary score higher than
    documents from a disjoint vocabulary."""
    from pyspark.sql import functions as F
    from big_data_bowl_spark.pipeline.sampling import dsir_weights
    rows = []
    for i in range(30):
        rows.append(Row(doc_id=i, text="alpha beta gamma delta", is_t=True))
    for i in range(30, 60):
        rows.append(Row(doc_id=i, text="omega sigma theta kappa", is_t=False))
    # two held-out raw docs, one per vocabulary
    rows.append(Row(doc_id=100, text="alpha beta alpha gamma", is_t=False))
    rows.append(Row(doc_id=101, text="omega sigma omega theta", is_t=False))
    df = spark.createDataFrame(rows)
    w = {r.doc_id: r.log_weight
         for r in dsir_weights(df, F.col("is_t"), text_col="text").collect()}
    assert w[100] > w[101]


@settings(max_examples=6, deadline=None)
@given(edges=st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1, max_size=40), k=st.integers(1, 4))
def test_kcore_equals_python_fixpoint_peel(spark, edges, k):
    """With enough rounds the fixed-round peel equals the true k-core
    fixpoint computed by a Python loop."""
    from big_data_bowl_spark.operators.graph import kcore
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not es:
        return
    cur = set(es)
    while True:
        deg: dict[int, int] = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in cur if a in keep and b in keep}
        if nxt == cur:
            break
        cur = nxt
    want = {}
    for a, b in cur:
        want[a] = want.get(a, 0) + 1
        want[b] = want.get(b, 0) + 1
    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in es])
    # 10 rounds >= peel depth of any 10-node graph; extra rounds no-op
    got = {r.node: r.deg for r in kcore(df, k=k, rounds=10).collect()}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(vals=st.lists(st.integers(-500, 500), min_size=1, max_size=50))
def test_cusum_range_equals_python_walk(spark, vals):
    """The decimal-scaled walk equals a Python Fraction CUSUM."""
    from fractions import Fraction
    from big_data_bowl_spark.operators.drift import cusum_range
    df = spark.createDataFrame(
        [Row(g="g", t=i, vc=v) for i, v in enumerate(vals)])
    out = cusum_range(df, "g", "vc", ["t"]).collect()[0]
    mu = Fraction(sum(vals), len(vals))
    s, hi, lo = Fraction(0), Fraction(0), Fraction(0)
    for v in vals:
        s += v - mu
        hi, lo = max(hi, s), min(lo, s)
    want = float((hi - lo) / 100)
    assert out.n == len(vals)
    assert abs(out.cusum_range - round(want, 6)) < 2e-6


@settings(max_examples=6, deadline=None)
@given(seq=st.lists(st.tuples(st.integers(0, 20),
                              st.sampled_from(["a", "b", "c", "x"])),
                    min_size=0, max_size=12), win=st.integers(1, 15))
def test_windowed_funnel_matches_python_fold(spark, seq, win):
    """The anchored time-bounded funnel ≡ a python walk with the same
    strictly-later + within-window rules."""
    import datetime as dt
    from big_data_bowl_spark.operators.scd import windowed_funnel
    base = dt.datetime(2024, 1, 1)
    rows = [(1, base + dt.timedelta(seconds=t), s) for t, s in seq] or \
           [(1, base, "x")]
    e = spark.createDataFrame(rows, "u int, ts timestamp, et string")
    got = windowed_funnel(e, "u", "ts", "et", ["a", "b", "c"],
                          within_seconds=win).collect()[0]
    events = sorted((t, s) for t, s in (seq or [(0, "x")]))
    steps, stage, last_t, t0 = ["a", "b", "c"], 0, None, None
    for t, s in events:
        if stage < 3 and s == steps[stage] and (
                stage == 0 or (t > last_t and t <= t0 + win)):
            if stage == 0:
                t0 = t
            stage, last_t = stage + 1, t
    assert got.stage == stage


@settings(max_examples=6, deadline=None)
@given(rows=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 300)),
                     min_size=1, max_size=60), k=st.integers(2, 16))
def test_theta_merge_equals_whole_and_exact_when_underfull(spark, rows, k):
    """merge(batch states) ≡ state(whole) after key dedup; and an
    under-full sketch pair yields the EXACT intersection."""
    from big_data_bowl_spark.operators.sketches import (
        theta_intersect_pairs, theta_sketch_merge, theta_sketch_state)
    df = spark.createDataFrame(
        [Row(g=g, key=key, batch=key % 3) for g, key in rows])
    whole = theta_sketch_state(df, ["g"], "key", k=k)
    by_batch = theta_sketch_state(df, ["g", "batch"], "key", k=k)
    merged = theta_sketch_merge(by_batch.drop("batch"), ["g"], "key", k=k)
    a = sorted((r.g, r.key, r.th_hash) for r in whole.collect())
    b = sorted((r.g, r.key, r.th_hash) for r in merged.collect())
    assert a == b
    sets = {g: {key for gg, key in rows if gg == g} for g in (0, 1)}
    if len(sets[0]) < k and len(sets[1]) < k and sets[0] and sets[1]:
        out = theta_intersect_pairs(whole, "g", "key").collect()
        assert len(out) == 1
        assert out[0].est_inter == float(len(sets[0] & sets[1]))


@settings(max_examples=6, deadline=None)
@given(a=st.lists(st.integers(-300, 300), min_size=1, max_size=30),
       b=st.lists(st.integers(-300, 300), min_size=1, max_size=30))
def test_wasserstein_equals_python_integral(spark, a, b):
    """The distributed W1 ≡ the Fraction-exact CDF integral."""
    from fractions import Fraction
    from big_data_bowl_spark.operators.drift import wasserstein_two_sample
    rows = [Row(vc=v, is_a=1) for v in a] + [Row(vc=v, is_a=0) for v in b]
    df = spark.createDataFrame(rows)
    out = wasserstein_two_sample(df, "vc", "is_a").collect()[0]
    vs = sorted(set(a) | set(b))
    na, nb, w1 = len(a), len(b), Fraction(0)
    for v, nxt in zip(vs, vs[1:]):
        fa = Fraction(sum(1 for x in a if x <= v), na)
        fb = Fraction(sum(1 for x in b if x <= v), nb)
        w1 += abs(fa - fb) * (nxt - v)
    assert (out.na, out.nb) == (na, nb)
    assert abs(out.w1 - round(float(w1 / 100), 6)) < 2e-6


def test_theta_sketch_mode_estimate_accuracy(spark):
    """In SKETCH mode (sets ≫ k) the theta intersection estimator lands
    within coarse sampling error of the truth — the accuracy companion
    of the exactness test above (the HLL 35%-relative precedent)."""
    from big_data_bowl_spark.operators.sketches import (
        theta_intersect_pairs, theta_sketch_state)
    rows = ([Row(g=0, key=k) for k in range(500)]
            + [Row(g=1, key=k) for k in range(300, 800)])
    df = spark.createDataFrame(rows)
    st = theta_sketch_state(df, ["g"], "key", k=64)
    out = theta_intersect_pairs(st, "g", "key").collect()[0]
    assert abs(out.est_a - 500) / 500 < 0.35
    assert abs(out.est_b - 500) / 500 < 0.35
    # true intersection = 200; bound is loose (m is small at k=64)
    assert abs(out.est_inter - 200) / 200 < 0.6
    assert out.m_sample > 0


@settings(max_examples=6, deadline=None)
@given(rows=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 5)),
                     min_size=1, max_size=40))
def test_item_similarity_equals_brute_force(spark, rows):
    """Cosine/Jaccard from co-occurrence ≡ Python set arithmetic."""
    import math
    from big_data_bowl_spark.operators.aggregates import item_similarity
    df = spark.createDataFrame([Row(g=g, item=i) for g, i in rows])
    got = {(r.item_a, r.item_b): (r.n_ab, r.n_a, r.n_b,
                                  r.cosine, r.jaccard)
           for r in item_similarity(df, "g", "item").collect()}
    groups_of = {}
    for g, i in set(rows):
        groups_of.setdefault(i, set()).add(g)
    items = sorted(groups_of)
    want = {}
    for idx, a in enumerate(items):
        for b in items[idx + 1:]:
            inter = groups_of[a] & groups_of[b]
            if not inter:
                continue
            na, nb, nab = len(groups_of[a]), len(groups_of[b]), len(inter)
            want[(a, b)] = (nab, na, nb,
                            round(nab / math.sqrt(na * nb), 6),
                            round(nab / (na + nb - nab), 6))
    assert got == want


@settings(max_examples=6, deadline=None)
@given(data=st.data())
def test_kaplan_meier_equals_python_product_limit(spark, data):
    """The distributed KM curve ≡ the textbook product-limit estimator
    computed by a Python fold over (duration, event) pairs."""
    import datetime as dt
    import math
    durs = data.draw(st.lists(
        st.tuples(st.integers(1, 30), st.booleans()),
        min_size=1, max_size=25), label="durs")
    base = dt.datetime(2024, 1, 1)
    end = base + dt.timedelta(seconds=60)
    rows = []
    for uid, (d, ev) in enumerate(durs):
        rows.append((uid, base, "view"))
        if ev:
            rows.append((uid, base + dt.timedelta(seconds=d), "purchase"))
    rows.append((9999, end, "view"))  # pins the study end
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, et string") \
             .withColumnRenamed("et", "event_type")
    from big_data_bowl_spark.queries import q_kaplan_meier
    import big_data_bowl_spark.queries as Q
    orig = Q.read_table
    try:
        Q.read_table = lambda spark_, sf_, name: e  # the query reads one table
        got = {r.duration: (r.n_risk, r.n_event, r.surv)
               for r in q_kaplan_meier(spark, "ignored").collect()}
    finally:
        Q.read_table = orig
    # python model: subjects = events (duration d) + censored (60, and
    # the end-pin user at 0)
    subj = [(d, 1) for d, ev in durs if ev] \
        + [(60, 0) for d, ev in durs if not ev] + [(0, 0)]
    # cumulative-rounded-log model, mirroring the engine's ladder
    n_risk, acc = len(subj), 0.0
    want = {}
    for d in sorted({x for x, _ in subj}):
        d_ev = sum(1 for x, f in subj if x == d and f)
        rem = sum(1 for x, _ in subj if x == d)
        if d_ev:
            acc += (round(math.log(1 - d_ev / n_risk), 9)
                    if d_ev < n_risk else -1e9)
            want[d] = (n_risk, d_ev, round(math.exp(acc), 6))
        else:
            acc += 0.0
        n_risk -= rem
    assert got == want


@settings(max_examples=6, deadline=None)
@given(edges=st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1, max_size=40), rounds=st.integers(1, 3))
def test_label_propagation_equals_python_sync_rounds(spark, edges, rounds):
    """The DataFrame LPA equals a Python synchronous simulation with the
    same (count DESC, label ASC) election, round for round."""
    from big_data_bowl_spark.operators.graph import label_propagation
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not es:
        return
    nbrs: dict[int, list[int]] = {}
    for a, b in es:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    lab = {n: n for n in nbrs}
    for _ in range(rounds):
        new = {}
        for n, ns in nbrs.items():
            cnt: dict[int, int] = {}
            for m in ns:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            new[n] = min(cnt, key=lambda l: (-cnt[l], l))
        lab = new
    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in es])
    got = {r.node: r.label
           for r in label_propagation(df, rounds=rounds).collect()}
    assert got == lab


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge resolve to exactly their
    min-member labels — the textbook community split."""
    from big_data_bowl_spark.operators.graph import label_propagation
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in c1 + c2 + [(3, 10)]])
    got = {r.node: r.label for r in label_propagation(df, rounds=3).collect()}
    assert all(got[n] == 0 for n in range(4))
    assert all(got[n] == 10 for n in range(10, 14))


@settings(max_examples=6, deadline=None)
@given(edges=st.lists(
    st.tuples(st.integers(0, 11), st.integers(0, 11)),
    min_size=1, max_size=40), cap=st.integers(1, 4))
def test_bfs_hops_equals_python_bfs(spark, edges, cap):
    """Fixed-round min-relax equals true BFS distance clipped at the
    hop cap (unreached nodes absent); seeds are 0,3,6,9 — including
    seeds with no edges, which keep their hops-0 row (a seed is
    reachable from itself)."""
    from big_data_bowl_spark.operators.graph import bfs_hops
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not es:
        return
    nbrs: dict[int, set[int]] = {}
    for a, b in es:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    seeds = list(range(0, 12, 3))
    want = {n: 0 for n in seeds}
    frontier = set(seeds)
    for h in range(1, cap + 1):
        frontier = {m for n in frontier
                    for m in nbrs.get(n, ())} - set(want)
        for m in frontier:
            want[m] = h
    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in es])
    sdf = spark.createDataFrame([Row(node=n) for n in range(0, 12, 3)])
    got = {r.node: r.hops for r in bfs_hops(df, sdf, max_hops=cap).collect()}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(rows=st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 5)),
    min_size=1, max_size=40),
    sup=st.sampled_from([0.1, 0.3, 0.5]))
def test_frequent_triples_equals_brute_force(spark, rows, sup):
    """Level-wise Apriori equals brute-force triple counting + threshold
    (the prune is result-neutral by support monotonicity)."""
    from big_data_bowl_spark.operators.aggregates import frequent_triples
    from itertools import combinations
    baskets: dict[int, set[int]] = {}
    for g, it in rows:
        baskets.setdefault(g, set()).add(it)
    nb = len(baskets)
    cnt: dict[tuple, int] = {}
    for its in baskets.values():
        for tri in combinations(sorted(its), 3):
            cnt[tri] = cnt.get(tri, 0) + 1
    want = {tri: (n, round(n / nb, 6)) for tri, n in cnt.items()
            if float(n) >= sup * float(nb)}
    df = spark.createDataFrame(rows, "g long, it long")
    got = {(r.item_a, r.item_b, r.item_c): (r.n_abc, r.support)
           for r in frequent_triples(df, "g", "it",
                                     min_support=sup).collect()}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(rows=st.lists(
    st.tuples(st.integers(0, 2), st.integers(-50, 50), st.integers(1, 9)),
    min_size=1, max_size=60))
def test_weighted_median_crossing_rule_equals_python(spark, rows):
    """The 2·cum ≥ total lower-median rule equals the Python definition
    (smallest value whose cumulative weight reaches half the total)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    want = {}
    by_g: dict[int, list] = {}
    for g, v, w in rows:
        by_g.setdefault(g, []).append((v, w))
    for g, vw in by_g.items():
        agg: dict[int, int] = {}
        for v, w in vw:
            agg[v] = agg.get(v, 0) + w
        tot = sum(agg.values())
        cum = 0
        for v in sorted(agg):
            cum += agg[v]
            if 2 * cum >= tot:
                want[g] = (tot, v)
                break
    df = spark.createDataFrame(rows, "g long, v long, w long")
    vg = df.groupBy("g", "v").agg(F.sum("w").alias("wv"))
    cum = F.sum("wv").over(Window.partitionBy("g").orderBy("v"))
    tot = F.sum("wv").over(Window.partitionBy("g"))
    c = vg.select("g", "v", cum.alias("cum"), tot.alias("tot"))
    got = {r.g: (r.tot, r.med) for r in
           (c.filter(F.col("cum") * 2 >= F.col("tot"))
             .groupBy("g").agg(F.min("tot").alias("tot"),
                               F.min("v").alias("med"))).collect()}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(bins=st.lists(
    st.tuples(st.integers(1, 20), st.integers(0, 20)),
    min_size=1, max_size=10))
# regression: pooled mean 21/128 = 0.1640625 is a half-quantum at 6
# decimals — Spark/DuckDB round() is HALF_UP, Python round() is
# banker's-to-even, so the twin must round HALF_UP too
@example(bins=[(5, 5), (5, 5), (6, 4), (7, 1), (14, 1), (15, 2),
               (17, 0), (19, 0), (20, 0), (20, 3)])
def test_isotonic_minimax_equals_pav(spark, bins):
    """The relational minimax characterization max_{j<=i} min_{k>=i}
    mean(y[j..k]) equals the classic sequential PAV pool-merge fit."""
    from pyspark.sql import functions as F
    bins = [(n, min(p, n)) for n, p in bins]
    # classic PAV: pools of (weight, sum) merged while decreasing,
    # tracking how many bins each pool absorbed
    fitted_py = []
    pools = []
    members = []
    for n, p in bins:
        pools.append([n, p])
        members.append(1)
        while len(pools) > 1 and \
                pools[-2][1] * pools[-1][0] > pools[-1][1] * pools[-2][0]:
            b = pools.pop()
            mb = members.pop()
            pools[-1][0] += b[0]
            pools[-1][1] += b[1]
            members[-1] += mb
    from decimal import ROUND_HALF_UP, Decimal
    for (w, s), m in zip(pools, members):
        # round HALF_UP like the engine: Spark's F.round(double) goes
        # through BigDecimal.valueOf (shortest decimal repr, same as
        # Python repr()) then ROUND_HALF_UP; Python's built-in round()
        # is banker's-to-even and disagrees on exact half-quanta
        # (e.g. 21/128 = 0.1640625 at 6 decimals)
        f = float(Decimal(repr(s / w)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))
        fitted_py.extend([f] * m)

    df = spark.createDataFrame(
        [(i, n, p) for i, (n, p) in enumerate(bins)],
        "bin long, n long, pos long")
    jk = (df.select(F.col("bin").alias("j"))
            .join(F.broadcast(df.select(F.col("bin").alias("k"))),
                  F.col("j") <= F.col("k")))
    iv = (jk.join(F.broadcast(df.select(F.col("bin").alias("m"),
                                        "n", "pos")),
                  (F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")))
            .groupBy("j", "k")
            .agg((F.sum("pos").cast("double")
                  / F.sum("n").cast("double")).alias("mean")))
    got_rows = (df.select(F.col("bin").alias("i"))
                  .join(F.broadcast(iv),
                        (F.col("j") <= F.col("i"))
                        & (F.col("k") >= F.col("i")))
                  .groupBy("i", "j").agg(F.min("mean").alias("lo"))
                  .groupBy("i").agg(F.round(F.max("lo"), 6).alias("f"))
                  .collect())
    got = [r.f for r in sorted(got_rows, key=lambda r: r.i)]
    assert got == fitted_py


@settings(max_examples=8, deadline=None)
@given(vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
       buckets=st.sampled_from([4, 16, 1024]))
def test_median_distributed_equals_statistics_median(spark, vals, buckets):
    """Histogram-selection median ≡ statistics.median (quantile_cont
    0.5 semantics) across bucket counts, duplicates, and tiny inputs."""
    import statistics

    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.windows import median_distributed
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i long, v double")
    got = median_distributed(df, "v", tiebreak=["i"],
                             buckets=buckets).collect()[0]
    assert got.n == len(vals)
    assert abs(got.median - statistics.median(vals)) < 1e-12


@settings(max_examples=6, deadline=None)
@given(pts=st.lists(st.tuples(st.integers(0, 30), st.integers(-500, 500)),
                    min_size=2, max_size=20, unique_by=lambda t: t[0]))
def test_theil_sen_slope_equals_brute_force(spark, pts):
    """The engine's pairwise-slope median equals the Python Theil–Sen
    estimator on arbitrary small series."""
    import statistics

    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.windows import median_distributed
    df = spark.createDataFrame(pts, "d long, r long")
    a = df.select(F.col("d").alias("di"), F.col("r").alias("ri"))
    b = df.select(F.col("d").alias("dj"), F.col("r").alias("rj"))
    # try_divide: the operator's null filter pushes into the cartesian
    # join and ANSI evaluates the division on diagonal pairs first
    slopes = (a.join(b, F.col("di") < F.col("dj"))
               .select("di", "dj",
                       F.try_divide(
                           (F.col("rj") - F.col("ri")).cast("double"),
                           (F.col("dj") - F.col("di")).cast("double"))
                       .alias("s")))
    got = median_distributed(slopes, "s",
                             tiebreak=["di", "dj"]).collect()[0]
    slopes_py = [(rj - ri) / (dj - di)
                 for (di, ri) in pts
                 for (dj, rj) in pts
                 if di < dj]
    want = statistics.median(slopes_py)
    assert got.n == len(slopes_py)
    assert abs(got.median - want) < 1e-12


@settings(max_examples=6, deadline=None)
@given(pts=st.lists(st.tuples(st.integers(0, 30),
                              st.integers(-100000, 100000)),
                    min_size=2, max_size=20, unique_by=lambda t: t[0]))
def test_theil_sen_bounded_equals_distributed_composition(spark, pts):
    """The r11 single-task day-grain path (theil_sen_bounded) must be
    BIT-IDENTICAL to the r10 distributed composition it replaced —
    slope median via median_distributed over the pair join, F.round
    HALF-UP at 6, residual median intercept with quantile_cont
    positions — on arbitrary small integer-cent series."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.aggregates import theil_sen_bounded
    from big_data_bowl_spark.operators.windows import median_distributed

    df = spark.createDataFrame(pts, "d long, r long")
    got = theil_sen_bounded(df, "d", "r").collect()[0]

    a = df.select(F.col("d").alias("di"), F.col("r").alias("ri"))
    b = df.select(F.col("d").alias("dj"), F.col("r").alias("rj"))
    slopes = (a.join(b, F.col("di") < F.col("dj"))
               .select("di", "dj",
                       (F.try_divide((F.col("rj") - F.col("ri"))
                                     .cast("double"),
                                     (F.col("dj") - F.col("di"))
                                     .cast("double")) / 100.0).alias("s"))
               .localCheckpoint(eager=True))
    sl = (median_distributed(slopes, "s", tiebreak=["di", "dj"])
          .select(F.col("n").alias("n_pairs"),
                  F.round(F.col("median"), 6).alias("sen_slope")))
    resid = (df.crossJoin(F.broadcast(sl))
               .select("n_pairs", "sen_slope", "d",
                       (F.col("r").cast("double") / 100.0
                        - F.col("sen_slope") * F.col("d")).alias("e")))
    wm = Window.orderBy(F.asc("e"), F.asc("d"))
    nd = resid.agg(F.count(F.lit(1)).alias("nd"))
    rr = (resid.withColumn("p", F.row_number().over(wm))
               .crossJoin(F.broadcast(nd)))
    d1 = F.floor((F.col("nd") + 1) / 2)
    d2 = F.floor(F.col("nd") / 2) + 1
    want = (rr.filter((F.col("p") == d1) | (F.col("p") == d2))
              .groupBy("n_pairs", "sen_slope")
              .agg(F.max("nd").alias("n_days"),
                   F.round(F.avg("e"), 6).alias("intercept"))).collect()[0]
    assert (got.n_pairs, got.n_days) == (want.n_pairs, want.n_days)
    assert got.sen_slope == want.sen_slope          # bit-identical
    assert got.intercept == want.intercept


def test_personalized_pagerank_mass_and_locality(spark):
    """PPR invariants that hold at EVERY iteration count: total rank
    mass stays 1 (teleport + dangling re-teleport conserve it), nodes
    unreachable from the seeds get exactly zero rank, and every node on
    the seeds' component gets strictly positive rank.  (Per-node
    orderings on a short path are power-iteration oscillation
    artifacts, not invariants — a previous assertion of one flipped
    between even and odd iteration counts.)"""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.graph import personalized_pagerank
    # two components: a path 0-1-2 (seeded at 0) and a pair 10-11
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1), (10, 11), (11, 10)],
        "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    for iters in (7, 8):
        pr = {r.node: r.rank
              for r in personalized_pagerank(edges, seeds,
                                             iters=iters).collect()}
        assert abs(sum(pr.values()) - 1.0) < 1e-9
        assert pr[10] == 0.0 and pr[11] == 0.0
        assert pr[0] > 0 and pr[1] > 0 and pr[2] > 0


def test_personalized_pagerank_requires_in_graph_seed(spark):
    from big_data_bowl_spark.operators.graph import personalized_pagerank
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "node long")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(edges, seeds)


@settings(max_examples=6, deadline=None)
@given(rows=st.lists(
    st.tuples(st.integers(0, 2), st.integers(-500, 500)),
    min_size=1, max_size=40),
    dels=st.sets(st.integers(0, 39)))
def test_retract_state_equals_scratch_rebuild(spark, rows, dels):
    """State after retraction ≡ aggregating the remaining rows from
    scratch — including groups that vanish entirely and deletes that
    removed a group's extremum."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.ivm import agg_state, retract_state
    data = [(i, g, v / 100.0) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "i long, g long, v double")
    state = agg_state(df, ["g"], "v")
    deleted = df.filter(F.col("i").isin(*dels) if dels else F.lit(False))
    remaining = df.filter(~F.col("i").isin(*dels) if dels else F.lit(True))
    got = sorted(map(tuple, retract_state(
        state, deleted, remaining, ["g"], "v")
        .select("g", "__n", "__sum_cents", "__min_cents", "__max_cents")
        .collect()))
    want = sorted(map(tuple, agg_state(remaining, ["g"], "v")
                      .select("g", "__n", "__sum_cents",
                              "__min_cents", "__max_cents").collect()))
    assert got == want


def test_retract_state_keeps_null_keyed_groups(spark):
    """NULL is a legitimate group key for agg_state; retraction must
    not drop it (the joins are null-safe)."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.ivm import agg_state, retract_state
    df = spark.createDataFrame(
        [(0, None, 1.0), (1, None, 2.0), (2, 1, 3.0), (3, 1, 4.0)],
        "i long, g long, v double")
    state = agg_state(df, ["g"], "v")
    deleted = df.filter(F.col("i") == 2)
    remaining = df.filter(F.col("i") != 2)
    got = sorted(map(tuple, retract_state(
        state, deleted, remaining, ["g"], "v")
        .select("g", "__n", "__sum_cents", "__min_cents",
                "__max_cents").collect()), key=repr)
    want = sorted(map(tuple, agg_state(remaining, ["g"], "v")
                      .select("g", "__n", "__sum_cents", "__min_cents",
                              "__max_cents").collect()), key=repr)
    assert got == want
    assert any(r[0] is None for r in got)  # the NULL group survived


# ---------------------------------------------------------------------------
# Third-implementation equivalence for the ITERATIVE ops (r9): the DuckDB
# oracles for pagerank/hits/lloyd mirror the engine's own formulation
# (unrolled CTE twins), so a shared conceptual bug would pass the hash
# gate.  An independent numpy implementation of the textbook algorithm is
# the only check that can't share that bug.


def test_pagerank_equals_numpy_twin(spark):
    """Engine PageRank ≡ an independent dense numpy power iteration
    (rank' = (1-d) + d·(Aᵀ(rank/outdeg) + dangling/n)) on a seeded
    random digraph with dangling nodes.  Tolerance 1e-9: both sides are
    float64, differing only in summation order."""
    import random

    import numpy as np

    from big_data_bowl_spark.operators.graph import pagerank

    rng = random.Random(97)
    n = 40
    edges = sorted({(rng.randrange(n), rng.randrange(n))
                    for _ in range(160)})
    edges = [(s, d) for s, d in edges if s != d]
    # force dangling nodes: strip all out-edges from nodes 0-4
    edges = [(s, d) for s, d in edges if s >= 5]
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)

    outdeg = np.zeros(m)
    A = np.zeros((m, m))
    for s, d in edges:
        A[idx[s], idx[d]] += 1.0
        outdeg[idx[s]] += 1.0
    rank = np.ones(m)
    damp = 0.85
    for _ in range(10):
        share = np.where(outdeg > 0, rank / np.maximum(outdeg, 1), 0.0)
        inflow = A.T @ share
        dm = rank[outdeg == 0].sum()
        rank = (1 - damp) + damp * (inflow + dm / m)

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=10).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - rank[idx[v]]) < 1e-9, (v, got[v], rank[idx[v]])


def test_hits_equals_python_int_twin_dense(spark):
    """Engine HITS ≡ an independent arbitrary-precision Python-int twin
    (which cannot overflow) on a dense digraph whose max degree (~59)
    would previously have pushed quantum·deg^6 ≈ 4e16 iterates near the
    int64 cliff at more rounds — run at 4 rounds so the 2³¹ rescale
    trigger actually fires, proving the engine's int64 path implements
    exactly the documented rescale rule and never wraps."""
    import random

    from big_data_bowl_spark.operators.graph import hits

    rng = random.Random(31)
    n = 60
    edges = sorted({(rng.randrange(n), rng.randrange(n))
                    for _ in range(1800) if True})
    edges = [(s, d) for s, d in edges if s != d]

    quantum, trigger = 1_000_000, 1 << 31
    nodes = sorted({v for e in edges for v in e})
    hub = {v: quantum for v in nodes}
    auth = {v: quantum for v in nodes}

    def rescale(col):
        mx = max(col.values())
        if mx > trigger:
            s = mx // quantum
            for k in col:
                col[k] //= s
        return col

    for _ in range(4):
        new_auth = {v: 0 for v in nodes}
        for s, d in edges:
            new_auth[d] += hub[s]
        auth = rescale(new_auth)
        new_hub = {v: 0 for v in nodes}
        for s, d in edges:
            new_hub[s] += auth[d]
        hub = rescale(new_hub)
        assert max(max(hub.values()), max(auth.values())) < 2**63

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["hub"], r["auth"])
           for r in hits(df, iters=4).collect()}
    assert got == {v: (hub[v], auth[v]) for v in nodes}


def test_lloyd_kmeans_equals_numpy_twin(spark):
    """Engine Lloyd ≡ an independent numpy Lloyd (per-label mean init,
    argmin squared-L2 assignment with smallest-label tie-break, per-dim
    mean update, empty clusters dropped) on integer-coordinate points —
    integer coordinates make every squared distance exact in float64,
    so the argmin can never flip on summation order and the final
    ASSIGNMENT must match exactly."""
    import random

    import numpy as np

    from big_data_bowl_spark.pipeline.similarity import lloyd_kmeans

    rng = random.Random(7)
    pts = [(i, [float(rng.randrange(-20, 21)),
                float(rng.randrange(-20, 21)),
                float(rng.randrange(-20, 21))], i % 4)
           for i in range(120)]

    X = np.array([p[1] for p in pts])
    labels0 = np.array([p[2] for p in pts])
    cents = {lb: X[labels0 == lb].mean(axis=0) for lb in sorted(set(labels0))}
    for _ in range(3):
        lbs = sorted(cents)
        C = np.array([cents[lb] for lb in lbs])
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.array([lbs[j] for j in d2.argmin(axis=1)])
        cents = {lb: X[assign == lb].mean(axis=0)
                 for lb in lbs if (assign == lb).any()}
    lbs = sorted(cents)
    C = np.array([cents[lb] for lb in lbs])
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    want = {pts[i][0]: lbs[j] for i, j in enumerate(d2.argmin(axis=1))}

    df = spark.createDataFrame(
        pts, "vec_id long, embedding array<double>, label long")
    got = {r["vec_id"]: r["cluster"]
           for r in lloyd_kmeans(df, iters=3).collect()}
    assert got == want


def test_personalized_pagerank_equals_numpy_twin(spark):
    """Engine PPR ≡ an independent numpy iteration (r' = e·((1−d) +
    d·dm) + d·Aᵀ(r/outdeg), e = 1/|S| on seeds) on a seeded random
    digraph with dangling nodes and an off-graph seed (which must be
    ignored).  Tolerance 1e-9 (float64, summation order only)."""
    import random

    import numpy as np

    from big_data_bowl_spark.operators.graph import personalized_pagerank

    rng = random.Random(193)
    n = 35
    edges = sorted({(rng.randrange(n), rng.randrange(n))
                    for _ in range(140)})
    edges = [(s, d) for s, d in edges if s != d and s >= 4]  # 0-3 dangle
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    seeds = [v for v in nodes if v % 5 == 0][:4]

    A = np.zeros((m, m))
    outdeg = np.zeros(m)
    for s, d in edges:
        A[idx[s], idx[d]] += 1.0
        outdeg[idx[s]] += 1.0
    tele = np.zeros(m)
    for v in seeds:
        tele[idx[v]] = 1.0 / len(seeds)
    rank = tele.copy()
    damp = 0.85
    for _ in range(5):
        share = np.where(outdeg > 0, rank / np.maximum(outdeg, 1), 0.0)
        dm = rank[outdeg == 0].sum()
        rank = tele * ((1 - damp) + damp * dm) + damp * (A.T @ share)

    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame(
        [(v,) for v in seeds] + [(999_999,)], "node long")  # off-graph seed
    got = {r["node"]: r["rank"]
           for r in personalized_pagerank(edf, sdf, iters=5).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - rank[idx[v]]) < 1e-9, (v, got[v], rank[idx[v]])


def test_pca_power_equals_numpy_eigh_twin(spark):
    """Engine power-iteration PCA ≡ numpy's eigh-based PCA on data with
    a strong spectral gap (variances ~25 : 4 : 0.01·I): 50 power rounds
    converge to ~(λ2/λ1)^50 ≈ 1e-40, so the projections must agree to
    1e-6 after the shared sign canon (largest-|loading| coordinate
    positive).  eigh shares no code path with the engine's one-pass
    moment aggregation + deflated power loop — the independent check
    the engine-mirroring CTE oracle can't provide."""
    import random

    import numpy as np

    from big_data_bowl_spark.ml.clustering import pca_power_2d

    rng = random.Random(11)
    d = 6
    e1 = np.array([1.0, 2.0, -1.0, 0.5, 0.0, 1.5])
    e1 /= np.linalg.norm(e1)
    e2 = np.array([2.0, -1.0, 0.0, 1.0, 1.0, 0.0])
    e2 -= (e2 @ e1) * e1
    e2 /= np.linalg.norm(e2)
    X = np.array([rng.gauss(0, 5) * e1 + rng.gauss(0, 2) * e2
                  + np.array([rng.gauss(0, 0.1) for _ in range(d)])
                  for _ in range(300)])

    Xc = X - X.mean(axis=0)
    cov = np.cov(Xc.T, ddof=1)
    w, V = np.linalg.eigh(cov)
    comps = []
    for c in (V[:, -1], V[:, -2]):
        mx = np.abs(c).max()
        lead = np.flatnonzero(np.abs(c) == mx)[0]
        comps.append(c if c[lead] > 0 else -c)
    want = Xc @ np.column_stack(comps)

    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (r["pc1"], r["pc2"])
           for r in pca_power_2d(df, n_dims=6, iters=50).collect()}
    for i in range(len(X)):
        assert abs(got[i][0] - want[i, 0]) < 1e-6, (i, got[i], want[i])
        assert abs(got[i][1] - want[i, 1]) < 1e-6, (i, got[i], want[i])


def test_label_propagation_equals_python_twin(spark):
    """Engine synchronous LPA ≡ an independent pure-Python twin (every
    node starts as its own label; each round adopts the most frequent
    neighbor label, ties to the smallest label, all nodes updated
    simultaneously) on a seeded random graph — the engine's SQL oracle
    unrolls the engine's own formulation, so only a third
    implementation catches a shared conceptual bug (r10, extending the
    r9 pagerank/hits/lloyd/ppr/pca twin pattern)."""
    import random
    from collections import defaultdict

    from big_data_bowl_spark.operators.graph import label_propagation

    rng = random.Random(41)
    n = 50
    edges = sorted({(rng.randrange(n), rng.randrange(n))
                    for _ in range(200)})
    edges = [(s, d) for s, d in edges if s != d]

    adj = defaultdict(set)
    for s, d in edges:
        a, b = min(s, d), max(s, d)
        adj[a].add(b)
        adj[b].add(a)
    nodes = sorted(adj)
    lab = {v: v for v in nodes}
    for _ in range(3):
        new = {}
        for v in nodes:
            counts = defaultdict(int)
            for nb in adj[v]:
                counts[lab[nb]] += 1
            mx = max(counts.values())
            new[v] = min(c for c, k in counts.items() if k == mx)
        lab = new

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"]
           for r in label_propagation(df, rounds=3).collect()}
    assert got == lab


def test_kcore_fixed_unroll_reaches_textbook_fixpoint(spark):
    """Engine k-core (fixed-round peel) ≡ the textbook
    peel-until-fixpoint k-core when the round budget covers the peel
    depth: the twin loops until NOTHING changes (no round budget at
    all), so agreement proves both the per-round peel rule and the
    idempotence argument the fixed unroll rests on.  The graph is
    sized so the peel takes several rounds (chains hanging off a dense
    core strip one link per round)."""
    import random
    from collections import defaultdict

    from big_data_bowl_spark.operators.graph import kcore

    rng = random.Random(59)
    n = 30
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(120)}
    # hang 3-node chains off the graph: each peel round removes one
    # link, forcing multi-round convergence
    nxt = n
    for anchor in range(0, n, 7):
        edges |= {(anchor, nxt), (nxt, nxt + 1), (nxt + 1, nxt + 2)}
        nxt += 3
    edges = sorted(edges)
    edges = [(s, d) for s, d in edges if s != d]

    cur = {(min(s, d), max(s, d)) for s, d in edges}
    while True:
        deg = defaultdict(int)
        for a, b in cur:
            deg[a] += 1
            deg[b] += 1
        keep = {v for v, d in deg.items() if d >= 3}
        nxt_edges = {(a, b) for a, b in cur if a in keep and b in keep}
        if nxt_edges == cur:
            break
        cur = nxt_edges
    want = defaultdict(int)
    for a, b in cur:
        want[a] += 1
        want[b] += 1
    want = dict(want)

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["deg"]
           for r in kcore(df, k=3, rounds=10).collect()}
    assert got == want
    assert len(want) > 0  # the dense core survived — test has teeth


def test_modularity_equals_python_twin(spark):
    """Engine Newman modularity ≡ an independent pure-Python
    Q = Σ_c [e_in(c)/m − (deg(c)/2m)²] over a seeded random bipartite
    projection, with the partition coming from the ENGINE's LPA (so the
    formula is what's under test, fed identical inputs).  Terms round
    at 9, Q at 6 — both sides quantize identically, so equality is
    exact."""
    import random
    from collections import defaultdict

    from big_data_bowl_spark.operators.graph import (
        label_propagation,
        modularity,
    )

    rng = random.Random(73)
    rel = sorted({(rng.randrange(30), rng.randrange(12))
                  for _ in range(90)})
    by_item = defaultdict(set)
    for e, i in rel:
        by_item[i].add(e)
    und = sorted({(a, b) for es in by_item.values()
                  for a in es for b in es if a < b})

    edf = spark.createDataFrame(und, "src long, dst long")
    lab_df = label_propagation(edf, rounds=3)
    lab = {r["node"]: r["label"] for r in lab_df.collect()}

    m = len(und)
    deg = defaultdict(int)
    e_in = defaultdict(int)
    degc = defaultdict(int)
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
        if lab[a] == lab[b]:
            e_in[lab[a]] += 1
    for v, d in deg.items():
        degc[lab[v]] += d
    terms = {c: round(e_in.get(c, 0) / m - (degc[c] / (2 * m)) ** 2, 9)
             for c in degc}
    q = round(sum(terms.values()), 6)

    got = modularity(edf, lab_df).collect()
    assert len(got) == len(terms)
    for r in got:
        c = r["community"]
        assert r["e_in"] == e_in.get(c, 0), (c, r["e_in"])
        assert r["deg_sum"] == degc[c], (c, r["deg_sum"])
        assert r["term"] == terms[c], (c, r["term"], terms[c])
        assert r["modularity"] == q, (r["modularity"], q)


@settings(max_examples=6, deadline=None)
@given(data=st.data())
def test_grid_knn_ladder_equals_brute_force_randomized(spark, data):
    """Randomized adversarial check of the r10 density-adaptive ladder:
    random point clouds (clustered + stacked duplicates + uniform
    noise), random radius and k, vs an independent Python brute force —
    every rung-resolution decision (full-k at d ≤ w) must reproduce the
    global top-k exactly, including partial rows and tie-breaks."""
    import numpy as np

    from big_data_bowl_spark.operators.separation import grid_knn

    seed = data.draw(st.integers(0, 2**31 - 1))
    k = data.draw(st.integers(1, 4))
    radius = data.draw(st.sampled_from([0.1, 0.25, 0.6]))
    occ = data.draw(st.sampled_from([2.0, 8.0, 32.0]))
    rng = np.random.default_rng(seed)
    base = rng.normal(0.0, 0.1, (rng.integers(10, 40), 2))
    pts = np.concatenate([
        base, base[: len(base) // 2],          # partial exact stacking
        rng.uniform(-1.0, 1.0, (rng.integers(5, 30), 2)),
    ])
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x double, y double")

    want = []
    for i, (xi, yi) in enumerate(pts):
        cands = sorted(
            (float((xi - xj) ** 2 + (yi - yj) ** 2), j)
            for j, (xj, yj) in enumerate(pts) if j != i)
        kept = [(d2, j) for d2, j in cands if d2 <= radius * radius][:k]
        want += [(i, j, r + 1, round(float(np.sqrt(d2)), 6))
                 for r, (d2, j) in enumerate(kept)]

    got = sorted(map(tuple, grid_knn(df, radius, k=k,
                                     target_occupancy=occ).collect()))
    assert got == sorted(want), (seed, k, radius, occ)


@settings(max_examples=5, deadline=None)
@given(data=st.data())
def test_jaccard_prefix_both_paths_equal_python_brute_force(spark, data):
    """Third-implementation check for the exact Jaccard join (r11): the
    bitmask set-grain path AND the classic array path must both equal
    an independent Python brute force on randomized corpora — the
    oracle mirrors the engine's formulation, so only a third
    implementation catches a shared conceptual bug (duplicate sets,
    boundary thresholds, singleton docs, disjoint docs all drawn)."""
    from pyspark.sql import functions as F  # noqa: F401

    from big_data_bowl_spark.pipeline.dedup import jaccard_prefix_pairs

    # spans the 63-bit word boundary: small draws run 1 mask word,
    # large draws run 2-3 words (the r11 multi-word generalization)
    vocab_n = data.draw(st.sampled_from([4, 9, 12, 70, 130]),
                        label="vocab_n")
    n_docs = data.draw(st.integers(2, 18), label="n_docs")
    tau = data.draw(st.sampled_from([0.34, 0.5, 0.75, 1.0]), label="tau")
    docs_py = []
    for i in range(n_docs):
        toks = data.draw(
            st.sets(st.integers(0, vocab_n - 1), min_size=1,
                    max_size=min(vocab_n, 30)), label=f"doc{i}")
        docs_py.append((i, sorted(toks)))
    # force some exact duplicates into half the draws
    if data.draw(st.booleans(), label="plant_dup") and n_docs >= 2:
        docs_py[-1] = (docs_py[-1][0], docs_py[0][1])
    rows = [(i, " ".join(f"w{t}" for t in toks)) for i, toks in docs_py]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    want = {}
    for ai in range(n_docs):
        for bi in range(ai + 1, n_docs):
            a, b = set(docs_py[ai][1]), set(docs_py[bi][1])
            j = len(a & b) / len(a | b)
            if round(j, 6) >= tau:
                want[(ai, bi)] = round(j, 6)

    fast = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in jaccard_prefix_pairs(df, threshold=tau).collect()}
    slow = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in jaccard_prefix_pairs(df, threshold=tau,
                                          small_vocab_bits=0).collect()}
    assert fast == want, (tau, fast, want)
    assert slow == want, (tau, slow, want)
