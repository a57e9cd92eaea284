"""Known-answer vector tests for every hash algorithm.

Ground truth: the reference's golden vectors for input "hello"
(ref /root/reference/tests/integration.rs:8-102, consolidated in
FIXTURES.md F3). These catch hex/binary/case bugs — Spark's md5/sha
built-ins return hex strings while the engine stores raw bytes.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from shaha_spark.functions import hashers

KNOWN_VECTORS = {
    "sha256": "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824",
    "md5": "5d41402abc4b2a76b9719d911017c592",
    "sha1": "aaf4c61ddcc5e8a2dabede0f3b482cd9aea9434d",
    "keccak256": "1c8aff950685c2ed4bc3174f3472287b56d9517b9c948127319a09a7a36deac8",
    "hash160": "b6a9c8c230722b7c748331a8b450f05566dc7d0f",
    "hash256": "9595c9df90075148eb06860365df33584b75bff782a510c6cd4883a419833d50",
    "sha512": (
        "9b71d224bd62f3785d96d46ad3ea3d73319bfbc2890caadae2dff72519673ca7"
        "2323c3d99ba5c11d7c7acc6e14b8c5da0c4663475c2e5c3adef46f73bcdec043"
    ),
    "blake3": "ea8f163db38682925e4491c5e58d4bb3506ef8c14eb78a86e908c5624a67200f",
    "ripemd160": "108f07b8382412612c048d07d13f814118445acd",
}


@pytest.mark.parametrize("algo", sorted(KNOWN_VECTORS))
def test_known_vector(spark, algo):
    df = spark.createDataFrame([("hello",)], "word string")
    row = df.select(hashers.hash_expr(algo, F.col("word")).alias("h")).head()
    assert row.h.hex() == KNOWN_VECTORS[algo]
    assert len(row.h) == hashers.digest_length(algo)


def test_registry_matches_reference():
    # ref src/hasher/mod.rs:92-104 + tests/integration.rs:88-95
    algos = hashers.available_algorithms()
    for required in ("sha256", "md5", "keccak256", "hash160", "hash256"):
        assert required in algos
    assert len(algos) == 9


def test_unknown_algorithm_returns_none():
    # ref tests/integration.rs:98-102
    assert hashers.get_hasher("unknown") is None
    assert hashers.get_hasher("sha999") is None
    with pytest.raises(ValueError):
        hashers.resolve_hashers(["sha256", "nope"])


def test_binary_input(spark):
    # digests must accept binary columns too (hash256 composes over binary)
    df = spark.createDataFrame([(b"hello",)], "payload binary")
    row = df.select(hashers.hash_expr("sha256", F.col("payload")).alias("h")).head()
    assert row.h.hex() == KNOWN_VECTORS["sha256"]


def test_empty_and_unicode_and_long(spark):
    import hashlib

    words = ["", "héllo-wörld-🚀", "x" * 10_000]  # 10k-char line: ref integration.rs:422-439
    df = spark.createDataFrame([(w,) for w in words], "word string")
    rows = df.select(
        "word", hashers.hash_expr("sha256", F.col("word")).alias("h")
    ).collect()
    for row in rows:
        assert row.h == hashlib.sha256(row.word.encode("utf-8")).digest()


def test_blake3_native_fast_path_selection(monkeypatch):
    """_blake3_digests prefers an importable `blake3` wheel and falls
    back to the pure kernel; both paths must agree digest-for-digest."""
    import sys
    import types

    from shaha_spark.functions import hashers
    from shaha_spark.functions.blake3_pure import blake3 as pure

    # fake native module whose digests come from the (vector-tested)
    # pure kernel, plus a call recorder proving the native path ran
    calls = []

    class _H:
        def __init__(self, data):
            self._d = data

        def digest(self):
            calls.append(len(self._d))
            return pure(self._d)

    fake = types.ModuleType("blake3")
    fake.blake3 = _H
    monkeypatch.setitem(sys.modules, "blake3", fake)
    monkeypatch.setattr(hashers, "_BLAKE3_KERNEL", None)
    data = [b"", b"abc", b"x" * 2000]
    assert hashers._blake3_digests(data) == [pure(d) for d in data]
    assert calls == [0, 3, 2000]

    # absent wheel → pure numpy batch kernel, same digests
    monkeypatch.setitem(sys.modules, "blake3", None)
    monkeypatch.setattr(hashers, "_BLAKE3_KERNEL", None)
    monkeypatch.delitem(sys.modules, "blake3")
    assert hashers._blake3_digests(data) == [pure(d) for d in data]


def test_keccak_native_fast_path_selection(monkeypatch):
    """_keccak256_digests prefers an importable pycryptodome kernel
    (`Crypto.Hash.keccak`, original pre-NIST padding) and falls back to
    the lane-batched pure implementation; both must agree
    digest-for-digest with the spec vectors."""
    import sys
    import types

    from shaha_spark.functions import hashers
    from shaha_spark.functions.keccak import keccak256_batch as pure_batch

    calls = []

    class _K:
        def __init__(self, data):
            self._d = data

        def digest(self):
            calls.append(len(self._d))
            return pure_batch([self._d])[0]

    fake_keccak = types.ModuleType("Crypto.Hash.keccak")
    fake_keccak.new = lambda digest_bits, data: (
        (_ for _ in ()).throw(AssertionError(digest_bits))
        if digest_bits != 256
        else _K(data)
    )
    fake_hash = types.ModuleType("Crypto.Hash")
    fake_hash.keccak = fake_keccak
    fake_crypto = types.ModuleType("Crypto")
    fake_crypto.Hash = fake_hash
    monkeypatch.setitem(sys.modules, "Crypto", fake_crypto)
    monkeypatch.setitem(sys.modules, "Crypto.Hash", fake_hash)
    monkeypatch.setitem(sys.modules, "Crypto.Hash.keccak", fake_keccak)
    monkeypatch.setattr(hashers, "_KECCAK_KERNEL", None)
    data = [b"", b"abc", b"x" * 2000]
    assert hashers._keccak256_digests(data) == pure_batch(data)
    assert calls == [0, 3, 2000]

    # absent wheel → lane-batched pure kernel, same digests
    for m in ("Crypto", "Crypto.Hash", "Crypto.Hash.keccak"):
        monkeypatch.delitem(sys.modules, m)
    monkeypatch.setattr(hashers, "_KECCAK_KERNEL", None)
    assert hashers._keccak256_digests(data) == pure_batch(data)
    # known-answer vector still green through the dispatcher
    assert (
        hashers._keccak256_digests([b"hello"])[0].hex()
        == "1c8aff950685c2ed4bc3174f3472287b56d9517b9c948127319a09a7a36deac8"
    )


_MIB = 1024 * 1024
# one buffer whose prefixes the BLAKE3 lane tests hash; see blake3_ref
_DATA = random.Random(3).randbytes(2 * _MIB + 1025)


@pytest.fixture(scope="module")
def blake3_ref():
    """The scalar spec tree blake3(), with its subtree CVs memoized.

    The lane tests hash many prefixes of ``_DATA``, which share their
    full-chunk subtrees, so the reference (~0.7 MB/s) compresses each
    chunk about once."""
    from shaha_spark.functions import blake3_pure

    subtree, memo = blake3_pure._subtree_cv, {}

    def memo_subtree(chunks, first_index):
        key = (first_index, tuple(chunks))
        if key not in memo:
            memo[key] = subtree(chunks, first_index)
        return memo[key]

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(blake3_pure, "_subtree_cv", memo_subtree)
        yield blake3_pure.blake3


def test_blake3_incremental_matches_one_shot(blake3_ref):
    """Blake3Hasher (chunk lanes merged into the chunk stack) must agree
    with the one-shot spec tree at every chunk-boundary size and under
    arbitrary update() splits — including digest() mid-stream."""
    from shaha_spark.functions.blake3_pure import _MIN_LANES, Blake3Hasher

    rng = random.Random(7)
    sizes = [0, 1, 63, 64, 65, 1023, 1024, 1025, 2048, 2049,
             3072, 4096, 5000, 8192, 31744, 102_400]
    for size in sizes:
        data = _DATA[:size]
        h = Blake3Hasher()
        i = 0
        while i < len(data):
            step = rng.choice([1, 7, 64, 1000, 1024, 4096, 9000, 20_000])
            h.update(data[i : i + step])
            i += step
            if rng.random() < 0.3:
                assert h.digest() == blake3_ref(data[:i]), (size, i)
        assert h.digest() == blake3_ref(data), size
        # digest() is non-destructive: updating afterwards still works
        h.update(b"tail")
        assert h.digest() == blake3_ref(data + b"tail"), size

    # each update() compresses a batch starting at the chunk count so
    # far: 1, 3, 5 and 7 are odd, and 3 and 7 pop two and three stack
    # entries; the batches lie on both sides of the scalar/lane crossover
    data = _DATA[: 64 * 1024 + 17]
    small, large = _MIN_LANES - 1, _MIN_LANES
    for splits in (
        [1025, large * 1024],
        [1025, small * 1024],
        [3 * 1024 + 1, 40 * 1024],
        [7 * 1024 + 5, large * 1024, small * 1024, 1024],
        [small * 1024 + 1, large * 1024 + 1],
    ):
        h = Blake3Hasher()
        i = 0
        for step in splits + [len(data)]:
            h.update(data[i : i + step])
            i = min(i + step, len(data))
            assert h.digest() == blake3_ref(data[:i]), (splits, i)


def test_blake3_batch_multi_chunk_rows(blake3_ref):
    """blake3_batch hashes rows longer than a chunk through the same
    lanes, mixed with word-sized rows, alone and in a batch."""
    from shaha_spark.functions.blake3_pure import blake3_batch

    rows = [_DATA[:n] for n in (1025, 5000, 10_000, 3, 0, 64, 65)]
    rows += [_DATA[o : o + n] for o in (1, 77) for n in (1025, 5000, 10_000)]
    assert blake3_batch(rows) == [blake3_ref(r) for r in rows]
    for row in rows[:3]:
        assert blake3_batch([row]) == [blake3_ref(row)]


def test_content_hash_file_streams(tmp_path, blake3_ref):
    """content_hash_file must produce the spec digest while reading in
    bounded blocks: a block size ≠ the chunk size, and sizes around
    the default 1 MiB read block."""
    from shaha_spark.sources.file import content_hash_file

    p = tmp_path / "w.txt"
    p.write_bytes(_DATA[:200_000])
    assert content_hash_file(str(p), block_size=4096) == blake3_ref(_DATA[:200_000]).hex()
    for size in (_MIB - 1, _MIB, _MIB + 1, 2 * _MIB + 1025):
        p.write_bytes(_DATA[:size])
        assert content_hash_file(str(p)) == blake3_ref(_DATA[:size]).hex(), size


def test_udf_algorithms_propagate_null(spark):
    """NULL input must yield a NULL digest on the UDF lane exactly as
    the JVM-native lane does — not the digest of the string 'None'."""
    from pyspark.sql import functions as F

    from shaha_spark.functions.hashers import hash_expr

    df = spark.createDataFrame([("x",), (None,)], "word string")
    for algo in ("md5", "sha256", "keccak256", "ripemd160", "blake3", "hash160"):
        rows = {r.word: r.d for r in df.select(
            "word", hash_expr(algo, F.col("word")).alias("d")
        ).collect()}
        assert rows[None] is None, algo
        assert rows["x"] is not None, algo
