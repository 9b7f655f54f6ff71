"""Deterministic, engine-portable hashing primitives for dedup & similarity.

Every hash bottoms out in ``h60``: the first 15 hex chars (60 bits) of the
MD5 of the UTF-8 string. That exact value is computable identically in

  * Python:    int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
  * Spark SQL: cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)
  * DuckDB:    ('0x' || substr(md5(s), 1, 15))::bigint

which lets the driver's DuckDB oracle verify MinHash/SimHash/LSH results
value-for-value. 60 bits fits signed int64 with headroom.

These re-express the reference's embedding-cosine near-dup detection
(/root/reference/text_quality_filter/utils/clustering.py:50-90,169-185) as the
model-free MinHash route mandated by BASELINE.json's north_rule.
"""

from __future__ import annotations

import hashlib

try:  # CPython's own MD5: half OpenSSL's per-call cost on a short shingle
    from _md5 import md5 as _md5
except ImportError:  # a build without it
    _md5 = hashlib.md5


def h60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def h60_sql(e: str) -> str:
    """Spark SQL twin of :func:`h60` over the SQL expression ``e``."""
    return f"cast(conv(substring(md5({e}), 1, 15), 16, 10) as bigint)"


def char_shingles(text: str, k: int = 5) -> list[str]:
    """Distinct character k-shingles in first-occurrence order; texts shorter
    than k yield the text itself (so short docs still get a signature).
    Empty text yields [''] — ONE empty shingle, matching :func:`minhash_bands`
    (the kernel Spark runs) and the DuckDB oracle (_SHINGLES5),
    so all three engines give identical signatures for empty docs (an empty
    list here would make minhash_signature emit the all-P sentinel while
    Spark/DuckDB hash '')."""
    if len(text) < k:
        return [text]
    seen: dict[str, None] = {}
    for i in range(len(text) - k + 1):
        seen.setdefault(text[i : i + k])
    return list(seen)


# Affine-permutation MinHash: one md5 per shingle, then num_hashes cheap
# integer permutations (a_i*h + b_i) mod P — the classic universal-hash
# MinHash. P is the Mersenne prime 2^31-1; params come from h60 so every
# engine derives the identical family. a_i*h + b_i <= (P-1)^2 + P < 2^63,
# so the arithmetic is exact in int64 everywhere (Spark, DuckDB, Python).
MINHASH_P = 2_147_483_647


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    out = []
    for i in range(num_hashes):
        a = h60(f"a{i}") % MINHASH_P
        if a == 0:
            a = 1
        b = h60(f"b{i}") % MINHASH_P
        out.append((a, b))
    return out


def minhash_signature(shingles: list[str], num_hashes: int = 128) -> list[int]:
    """sig[i] = min over shingles of (a_i * (h60(sh) % P) + b_i) % P.
    Empty shingle set -> all slots = P (sentinel; real slots are < P)."""
    if not shingles:
        return [MINHASH_P] * num_hashes
    hs = [h60(sh) % MINHASH_P for sh in shingles]
    return [min((a * h + b) % MINHASH_P for h in hs) for a, b in minhash_params(num_hashes)]


def lsh_band_keys(sig: list[int], num_bands: int) -> list[int]:
    """Band keys: h60 of "band_idx|v1,v2,..." over each contiguous slice
    (portable: same string is hashed in Spark SQL / DuckDB / Python)."""
    if len(sig) % num_bands:
        raise ValueError(
            f"num_hashes ({len(sig)}) must be divisible by num_bands "
            f"({num_bands}): a remainder would silently DROP the trailing "
            f"signature slots from every band key, flattening the LSH "
            f"recall curve (review finding)"
        )
    rows = len(sig) // num_bands
    return [
        h60(f"{b}|" + ",".join(str(v) for v in sig[b * rows : (b + 1) * rows]))
        for b in range(num_bands)
    ]


def _h60_array(strs):
    """int64 :func:`h60` of each of ``strs`` (shifted unsigned: no sign extension)."""
    import numpy as np

    blob = b"".join([_md5(s.encode("utf-8")).digest() for s in strs])
    return (np.frombuffer(blob, ">u8")[::2] >> np.uint64(4)).astype(np.int64)


def minhash_bands(texts, k: int, num_hashes: int, num_bands: int):
    """``minhash_signature(char_shingles(t, k), num_hashes)`` and its
    ``lsh_band_keys`` per text, bit-identical, as two lists of int64 arrays
    (a None text: the all-P sentinel). Shingles are code-point slices, as
    Spark's ``substring``; one (num_hashes, n_shingles) array per text."""
    import numpy as np

    A, B = (np.array(c, dtype=np.int64)[:, None] for c in zip(*minhash_params(num_hashes)))
    rows = num_hashes // num_bands
    sigs, keys = [], []
    for t in texts:
        if t is None:
            sig = np.full(num_hashes, MINHASH_P, dtype=np.int64)
        else:
            sh = {t} if len(t) < k else {t[i : i + k] for i in range(len(t) - k + 1)}
            x = A * (_h60_array(sh) % MINHASH_P)
            x += B
            x -= x // MINHASH_P * MINHASH_P  # x >= 0; cheaper than np.remainder
            sig = x.min(axis=1)
        v = sig.tolist()
        sigs.append(sig)
        keys.append(_h60_array(
            f"{b}|" + ",".join(map(str, v[b * rows : (b + 1) * rows])) for b in range(num_bands)
        ))
    return sigs, keys


def minhash_jaccard_estimate(sig_a: list[int], sig_b: list[int]) -> float:
    agree = sum(1 for a, b in zip(sig_a, sig_b) if a == b)
    return agree / len(sig_a) if sig_a else 0.0


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def simhash60(tokens: list[str]) -> int:
    """60-bit SimHash over token h60 hashes, unit weights; ties (sum == 0)
    resolve to bit 0 — portable to SQL as sum(case when bit then 1 else -1)>0."""
    if not tokens:
        return 0
    sums = [0] * 60
    for t in tokens:
        h = h60(t)
        for j in range(60):
            sums[j] += 1 if (h >> j) & 1 else -1
    out = 0
    for j in range(60):
        if sums[j] > 0:
            out |= 1 << j
    return out


def hamming60(a: int, b: int) -> int:
    return bin(a ^ b).count("1")
