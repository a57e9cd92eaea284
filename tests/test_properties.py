"""Property-based tests (hypothesis) for the pure-Python core:
prefix-range rewrite, hex helpers, and the digest kernels."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from shaha_spark.functions.blake3_pure import blake3
from shaha_spark.functions.keccak import keccak256
from shaha_spark.query import prefix_successor
from shaha_spark.schema import hex_to_bytes


@given(st.binary(min_size=1, max_size=8), st.binary(min_size=0, max_size=40))
def test_prefix_range_equals_startswith(prefix, digest):
    """[p, succ(p)) under bytewise order == 'starts with p', exactly."""
    upper = prefix_successor(prefix)
    in_range = digest >= prefix and (upper is None or digest < upper)
    assert in_range == digest.startswith(prefix)


@given(st.binary(min_size=1, max_size=8))
def test_prefix_successor_is_least_upper_bound(prefix):
    upper = prefix_successor(prefix)
    if upper is not None:
        assert upper > prefix
        # nothing strictly between the largest p-prefixed string of any
        # length L and succ(p): padding with 0xff stays inside
        assert (prefix + b"\xff" * 8) < upper


@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=64))
def test_hex_round_trip(s):
    raw = hashlib.sha256(s.encode("utf-8")).digest()
    assert hex_to_bytes(raw.hex()) == raw


@settings(max_examples=30)
@given(st.binary(min_size=0, max_size=300))
def test_keccak_padding_invariants(data):
    digest = keccak256(data)
    assert len(digest) == 32
    # deterministic + collision-resistant sanity: appending a byte changes it
    assert keccak256(data + b"\x00") != digest


@settings(max_examples=30)
@given(st.binary(min_size=0, max_size=3000))
def test_blake3_chunking_consistency(data):
    """Length-extension across the 64-byte-block and 1024-byte-chunk
    boundaries must never collide with the unextended input."""
    digest = blake3(data)
    assert len(digest) == 32
    assert blake3(data + b"x") != digest


@settings(max_examples=20)
@given(st.lists(st.binary(min_size=0, max_size=70), min_size=2, max_size=6))
def test_blake3_concat_vs_parts(parts):
    """Hash of the concatenation must equal one-shot hashing (guards the
    chunk-tree construction against split-position sensitivity)."""
    whole = b"".join(parts)
    assert blake3(whole) == blake3(bytes(whole))


def test_weighted_sample_rate_tracks_weight():
    # driver-side check of the inclusion rule's proportionality using
    # the same md5 bucket the operator computes (no Spark needed)
    import hashlib

    def bucket(key: str, salt: str) -> int:
        return int(hashlib.md5((key + salt).encode()).hexdigest()[:7], 16) % 10_000

    n = 20000
    kept_half = sum(1 for i in range(n) if bucket(str(i), "s") * 100.0 < 50.0 * 10000)
    kept_tenth = sum(1 for i in range(n) if bucket(str(i), "s") * 100.0 < 10.0 * 10000)
    assert abs(kept_half / n - 0.5) < 0.02
    assert abs(kept_tenth / n - 0.1) < 0.02


# ---- full prefix_predicate semantics (not just the range helper) ----

from shaha_spark.query import prefix_predicate  # noqa: E402
from shaha_spark.schema import FULL_HASH_LENGTHS  # noqa: E402


def _predicate_semantics(
    prefix: bytes, digest: bytes, max_digest_len: int | None = None
) -> bool:
    """Pure-Python mirror of prefix_predicate's branches (empty → all;
    provably-exact full length → equality; else → half-open range)."""
    if len(prefix) == 0:
        return True
    if (
        len(prefix) in FULL_HASH_LENGTHS
        and max_digest_len is not None
        and len(prefix) >= max_digest_len
    ):
        return digest == prefix
    upper = prefix_successor(prefix)
    return digest >= prefix and (upper is None or digest < upper)


@given(
    st.sampled_from(sorted(FULL_HASH_LENGTHS)),
    st.data(),
)
def test_prefix_predicate_equals_startswith_all_branches(digest_len, data):
    digest = data.draw(st.binary(min_size=digest_len, max_size=digest_len))
    prefix_len = data.draw(st.integers(min_value=0, max_value=digest_len))
    # bias: half the time the prefix IS a prefix of the digest, so the
    # positive branch is exercised, not just near-certain negatives
    if data.draw(st.booleans()):
        prefix = digest[:prefix_len]
    else:
        prefix = data.draw(st.binary(min_size=prefix_len, max_size=prefix_len))
    # default (no digest-length knowledge): always exactly startswith —
    # including full-length prefixes against LONGER digests, the case
    # the reference's startswith row filter covers (ref parquet.rs:547)
    assert _predicate_semantics(prefix, digest) == digest.startswith(prefix)
    # with digest-length knowledge the equality upgrade stays exact
    assert (
        _predicate_semantics(prefix, digest, max_digest_len=digest_len)
        == digest.startswith(prefix)
    )


def test_prefix_predicate_column_matches_startswith_spark(spark):
    """Evaluate the actual Column predicate in Spark against startswith
    over random digests/prefixes — locks the JVM bytewise binary
    comparison to Python's, covering all three predicate branches."""
    import random

    rng = random.Random(20260813)
    digests = [bytes(rng.randrange(256) for _ in range(32)) for _ in range(200)]
    prefixes = (
        [b""]
        + [d[:n] for d in digests[:10] for n in (1, 3, 7, 31, 32)]
        + [bytes(rng.randrange(256) for _ in range(n)) for n in (1, 2, 4, 32) for _ in range(5)]
        + [b"\xff", b"\xff\xff", digests[0][:31] + b"\xff"]
    )
    df = spark.createDataFrame([(d,) for d in digests], ["hash"])
    import pyspark.sql.functions as F

    exprs = [
        F.sum(prefix_predicate(p).cast("int")).alias(f"p{i}")
        for i, p in enumerate(prefixes)
    ]
    counts = df.agg(*exprs).collect()[0]
    for i, p in enumerate(prefixes):
        expected = sum(1 for d in digests if d.startswith(p))
        assert counts[f"p{i}"] == expected, (i, p.hex())


# ---- algebraic claims behind the round-8 operators (pure Python) ----


@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(1, 500)),
        min_size=1,
        max_size=200,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 10),
    st.integers(1, 8),
)
def test_two_phase_topk_equals_flat_topk(rows, k, buckets):
    """weighted_reservoir's skew-proof claim: the top-k of the union of
    per-bucket top-ks equals the flat top-k, for ANY key function and
    bucketing. (sampling.weighted_reservoir phase-1/phase-2 design)"""
    import hashlib

    def key(rid, w):
        h = int(hashlib.md5(str(rid).encode()).hexdigest()[:7], 16)
        import math

        return (round(math.log((h + 1) / 2**28), 9) / w, -rid)

    flat = sorted(rows, key=lambda t: key(*t), reverse=True)[:k]
    per_bucket: dict[int, list] = {}
    for t in rows:
        per_bucket.setdefault(t[0] % buckets, []).append(t)
    survivors = [
        t
        for b in per_bucket.values()
        for t in sorted(b, key=lambda t: key(*t), reverse=True)[:k]
    ]
    two_phase = sorted(survivors, key=lambda t: key(*t), reverse=True)[:k]
    assert two_phase == flat


@given(
    st.lists(st.integers(-1000, 1000), min_size=1, max_size=300),
    st.integers(2, 16),
    st.floats(0.001, 1.0),
)
def test_bucketed_prefix_sum_rank_selection_equals_flat(vals, n_buckets, q):
    """quantile_disc's core claim: cumulative counts grouped through
    order-preserving value buckets select the same rank-r element as a
    flat sorted scan, for any data and bucket count."""
    import math
    from collections import Counter

    per_v = sorted(Counter(vals).items())
    n = len(vals)
    rank = max(1, math.ceil(q * n))
    # flat reference
    cum = 0
    flat_answer = None
    for v, c in per_v:
        cum += c
        if flat_answer is None and cum >= rank:
            flat_answer = v
    # bucketed: same shape as the operator
    lo, hi = per_v[0][0], per_v[-1][0]
    width = (hi - lo) / n_buckets if hi > lo else 1
    def bkt(v):
        return min(int((v - lo) / width), n_buckets - 1) if hi > lo else 0
    totals: dict[int, int] = {}
    for v, c in per_v:
        totals[bkt(v)] = totals.get(bkt(v), 0) + c
    answer = None
    for v, c in per_v:
        b = bkt(v)
        offset = sum(t for bb, t in totals.items() if bb < b)
        within = sum(c2 for v2, c2 in per_v if bkt(v2) == b and v2 <= v)
        if answer is None and offset + within >= rank:
            answer = v
    assert answer == flat_answer


@given(
    st.lists(st.floats(-100, 100, allow_nan=False), min_size=1, max_size=60),
    st.floats(0.05, 0.95),
    st.integers(2, 20),
)
@settings(max_examples=60)
def test_ewma_truncation_error_bounded_by_tail_weight(vals, alpha, horizon):
    """timeseries.ewma's finite-horizon claim: the truncated
    adjust=True EWMA differs from the untruncated one by at most the
    dropped tail's weight share times the value range."""
    def full(i):
        ws = [alpha * (1 - alpha) ** k for k in range(i + 1)]
        return sum(w * vals[i - k] for k, w in enumerate(ws)) / sum(ws)

    def trunc(i):
        kmax = min(i, horizon)
        ws = [alpha * (1 - alpha) ** k for k in range(kmax + 1)]
        return sum(w * vals[i - k] for k, w in enumerate(ws)) / sum(ws)

    vmax = max(abs(v) for v in vals) or 1.0
    for i in range(len(vals)):
        if i <= horizon:
            assert abs(full(i) - trunc(i)) < 1e-9 * vmax + 1e-12
        else:
            # tail share of total weight, conservatively doubled
            tail = (1 - alpha) ** (horizon + 1)
            assert abs(full(i) - trunc(i)) <= 2 * tail * vmax + 1e-9


# ---- round-9: the minimax closed form IS pool-adjacent-violators ----
# classifier.isotonic_fit computes fit_i = max_{j<=i} min_{k>=i}
# avg(j..k) instead of the sequential PAV sweep; the two are provably
# equivalent (Barlow et al.), and this pins the equivalence over
# random weighted inputs so the relational formulation can never
# silently drift from the textbook algorithm.

@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),      # weight
            st.integers(min_value=0, max_value=1000),    # numerator <= w*1000
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_isotonic_minimax_equals_pav(bins):
    ws = [w for w, _ in bins]
    ys = [min(num, w * 1000) / (w * 1000.0) for w, num in bins]

    # sequential weighted PAV (stack form)
    blocks: list[list[float]] = []
    for w, y in zip(ws, ys):
        blocks.append([float(w), y])
        while len(blocks) > 1 and blocks[-2][1] >= blocks[-1][1]:
            w2, y2 = blocks.pop()
            w1, y1 = blocks.pop()
            blocks.append([w1 + w2, (w1 * y1 + w2 * y2) / (w1 + w2)])
    pav, bi = [], 0
    for bw, by in blocks:
        acc = 0.0
        while acc < bw - 1e-9:
            acc += ws[bi]
            pav.append(by)
            bi += 1

    # minimax closed form over prefix sums (the operator's shape)
    n = len(ws)
    pref_w = [0.0]
    pref_s = [0.0]
    for w, y in zip(ws, ys):
        pref_w.append(pref_w[-1] + w)
        pref_s.append(pref_s[-1] + w * y)

    def avg(j, k):  # bins j..k inclusive, 0-based
        return (pref_s[k + 1] - pref_s[j]) / (pref_w[k + 1] - pref_w[j])

    minimax = [
        max(min(avg(j, k) for k in range(i, n)) for j in range(i + 1))
        for i in range(n)
    ]
    for a, b in zip(minimax, pav):
        assert abs(a - b) < 1e-9
    assert all(a <= b + 1e-12 for a, b in zip(minimax, minimax[1:]))
