"""Driver-side reference kernels for the engine's hash-based operators.

Pure Python/numpy implementations — NO pyspark import anywhere — of the
exact arithmetic behind the five non-SQL-expressible contract entries
(`dedup_minhash_lsh`, `dedup_simhash`, `sim_ann_lsh_topk`,
`sim_ann_ivf_topk`, `multimodal_decode_*`).  They exist to be an
independent oracle: `scripts/gen_golden_oracles.py` runs them over the
raw parquet (via pyarrow) and freezes the results into golden-row
oracle SQL, and `tests/test_ref_kernels.py` compares them row-for-row
against the Spark operators.

The hash primitives are re-implemented from their PUBLIC specifications
(xxHash64 from the canonical algorithm description; the FNV-1a variant
of the fake decoder from the FNV spec), not copied from any engine.
Where the Spark operators pin deterministic constants (LCG permutation
schedules, hyperplane seeds), the same published constants are used —
that is the point: same arithmetic, independent executor.
"""

from __future__ import annotations

import re
import zlib
from decimal import ROUND_HALF_UP, Decimal, getcontext

import numpy as np

getcontext().prec = 60

# ----------------------------------------------------------------------
# xxHash64 (public spec: https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md)
# Spark's xxhash64() hashes UTF-8 bytes / little-endian longs with
# seed 42 and folds arrays element-by-element, previous hash as seed.
# ----------------------------------------------------------------------

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _round64(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of a byte string (unsigned 64-bit result)."""
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while pos + 32 <= n:
            v1 = _round64(v1, int.from_bytes(data[pos:pos + 8], "little"))
            v2 = _round64(v2, int.from_bytes(data[pos + 8:pos + 16], "little"))
            v3 = _round64(v3, int.from_bytes(data[pos + 16:pos + 24], "little"))
            v4 = _round64(v4, int.from_bytes(data[pos + 24:pos + 32], "little"))
            pos += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round64(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while pos + 8 <= n:
        h ^= _round64(0, int.from_bytes(data[pos:pos + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        pos += 8
    if pos + 4 <= n:
        h ^= (int.from_bytes(data[pos:pos + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        pos += 4
    while pos < n:
        h ^= (data[pos] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        pos += 1
    return _fmix(h)


def xxh64_long(value: int, seed: int = 42) -> int:
    """XXH64 of one 64-bit integer lane (unsigned result).

    Equivalent to ``xxh64(value.to_bytes(8, 'little'))`` but via the
    specialized single-long path (hash = seed + P5 + 8; one 8-byte
    round; avalanche)."""
    h = (seed + _P5 + 8) & _M
    h ^= _round64(0, value & _M)
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def _signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def xxh64_str(s: str, seed: int = 42) -> int:
    """Signed-64 xxHash64 of a string's UTF-8 bytes (Spark surface)."""
    return _signed(xxh64(s.encode("utf-8"), seed))


def xxh64_long_array(values: list[int], seed: int = 42) -> int:
    """Signed-64 fold over an array of longs: each element is hashed
    with the running hash as the seed (array hashing semantics)."""
    h = seed
    for v in values:
        h = _signed(xxh64_long(v & _M, h & _M))
    return h


# ----------------------------------------------------------------------
# text normalization / shingling (operators/dedup.py:_norm/_shingles_of_norm)
# ----------------------------------------------------------------------

# ASCII \s to match the JVM regex default (no Unicode whitespace)
_WS = re.compile(r"\s+", re.ASCII)

_P31 = (1 << 31) - 1  # Mersenne prime used by the permutation family


def norm_text(text: str) -> str:
    """lower -> trim -> collapse ASCII whitespace runs to one space."""
    return _WS.sub(" ", text.lower().strip())


def shingle_hash_set(norm: str, k: int = 5) -> list[int]:
    """Distinct non-negative 61-bit hashes of the char k-shingles of an
    already-normalized string (first-occurrence order preserved)."""
    if len(norm) < k:
        shingles = [norm]
    else:
        shingles = [norm[i:i + k] for i in range(len(norm) - k + 1)]
    seen: dict[int, None] = {}
    for s in shingles:
        seen.setdefault(xxh64_str(s) % _P31, None)
    return list(seen)


# ----------------------------------------------------------------------
# MinHash + LSH (operators/dedup.py:minhash_lsh_pairs)
# ----------------------------------------------------------------------


def perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """The engine's published (a|1, b) affine-permutation schedule:
    Knuth MMIX LCG over two xxHash-derived seeds, reduced mod 2^31-1."""
    out = []
    a, b = 0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F
    for _ in range(num_hashes):
        a = (a * 6364136223846793005 + 1442695040888963407) % _P31
        b = (b * 6364136223846793005 + 1442695040888963407) % _P31
        out.append((a | 1, b))
    return out


def minhash_signature(hashes: list[int], num_hashes: int = 64) -> list[int]:
    """sig_i = min over shingle hashes of (a_i*h + b_i) mod p, same
    numpy arithmetic as the engine's Arrow kernel (int64-safe: a, h
    both < 2^31)."""
    consts = perm_constants(num_hashes)
    A = np.array([a for a, _ in consts], dtype=np.int64)
    B = np.array([b for _, b in consts], dtype=np.int64)
    h = np.asarray(hashes, dtype=np.int64)
    sig = np.empty(num_hashes, dtype=np.int64)
    for i in range(num_hashes):
        sig[i] = np.remainder(h * A[i] + B[i], _P31).min()
    return sig.tolist()


def _bucket_pairs(
    bucket_members: dict, bucket_cap: int = 256
) -> set[tuple[int, int]]:
    """Distinct (id_a < id_b) pairs from {bucket_key: [ids]} with the
    engine's cap rule: ids sorted, only the first ``bucket_cap`` pair."""
    pairs: set[tuple[int, int]] = set()
    for ids in bucket_members.values():
        ids = sorted(set(ids))[:bucket_cap]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def round_half_up6(x: float) -> float:
    """JVM ROUND(double, 6): shortest-repr decimal, HALF_UP at 6dp."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def minhash_pairs(
    docs: list[tuple[int, str]],
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    jaccard_threshold: float = 0.5,
    bucket_cap: int = 256,
) -> list[tuple[int, int, float]]:
    """Reference MinHash+LSH near-dup pairs: (id_a, id_b, jaccard) with
    id_a < id_b, exact shingle-set Jaccard >= threshold."""
    rows_per_band = num_hashes // bands
    shingle_sets: dict[int, set[int]] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, text in docs:
        hashes = shingle_hash_set(norm_text(text), k)
        shingle_sets[doc_id] = set(hashes)
        sig = minhash_signature(hashes, num_hashes)
        for b in range(bands):
            bhash = xxh64_long_array(
                sig[b * rows_per_band:(b + 1) * rows_per_band]
            )
            buckets.setdefault((b, bhash), []).append(doc_id)
    out = []
    for id_a, id_b in sorted(_bucket_pairs(buckets, bucket_cap)):
        sa, sb = shingle_sets[id_a], shingle_sets[id_b]
        jac = round_half_up6(len(sa & sb) / float(len(sa | sb)))
        if jac >= jaccard_threshold:
            out.append((id_a, id_b, jac))
    return out


# ----------------------------------------------------------------------
# SimHash (operators/dedup.py:simhash_near_dups)
# ----------------------------------------------------------------------


def simhash_signature(norm: str) -> int:
    """Signed-64 SimHash over distinct whitespace tokens: bit i of the
    signature is the majority vote (strictly positive) of bit i across
    the tokens' xxHash64 values."""
    tokens = list(dict.fromkeys(norm.split(" ")))
    h = np.array([xxh64_str(t) for t in tokens], dtype=np.int64).view(np.uint64)
    if h.size == 0:
        return 0
    shifts = np.arange(64, dtype=np.uint64)
    bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    sig_u = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
    return int(sig_u.astype(np.uint64).view(np.int64))


def simhash_pairs(
    docs: list[tuple[int, str]],
    max_hamming: int = 3,
    bucket_cap: int = 256,
) -> list[tuple[int, int, int]]:
    """Reference SimHash near-dups: 4x16-bit pigeonhole banding, exact
    Hamming verify. Returns (id_a, id_b, hamming), id_a < id_b."""
    sigs: dict[int, int] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, text in docs:
        sig = simhash_signature(norm_text(text))
        sigs[doc_id] = sig
        u = sig & _M
        for band in range(4):
            buckets.setdefault((band, (u >> (band * 16)) & 0xFFFF), []).append(doc_id)
    out = []
    for id_a, id_b in sorted(_bucket_pairs(buckets, bucket_cap)):
        ham = bin((sigs[id_a] ^ sigs[id_b]) & _M).count("1")
        if ham <= max_hamming:
            out.append((id_a, id_b, ham))
    return out


# ----------------------------------------------------------------------
# cosine / hyperplane LSH / IVF (operators/similarity.py)
# ----------------------------------------------------------------------


def seq_dot(a: list[float], b: list[float]) -> float:
    """Left-to-right sequential double fold — the evaluation order of a
    SQL ``aggregate`` over an array, NOT numpy pairwise summation, so
    the result is bit-identical to the engine's scoring expression."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def seq_cosine(a: list[float], b: list[float]) -> float:
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return seq_dot(a, b) / (na ** 0.5 * nb ** 0.5)


def det_planes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic hyperplanes: Knuth MMIX LCG mapped to [-1, 1)."""
    planes = []
    state = seed
    for _ in range(nbits):
        p = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            p.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(p)
    return planes


def probe_buckets(
    query_vec: list[float], planes: list[list[float]], probes: int
) -> list[int]:
    """Query-directed multi-probe flip sequence (Lv et al., VLDB'07):
    flip the sign bits whose hyperplane margins are smallest."""
    nbits = len(planes)
    dots = [
        sum(float(a) * float(b) for a, b in zip(query_vec, p)) for p in planes
    ]
    qbucket = sum(1 << i for i, d in enumerate(dots) if d >= 0)
    order = sorted(range(nbits), key=lambda i: abs(dots[i]))
    flip_sets: list[int] = [0]
    flip_sets += [1 << i for i in order]
    for a in range(nbits):
        for b in range(a + 1, nbits):
            flip_sets.append((1 << order[a]) | (1 << order[b]))
    flip_sets.sort(key=lambda m: sum(abs(dots[i]) for i in range(nbits) if m & (1 << i)))
    return [qbucket ^ m for m in flip_sets[: max(probes, 1)]]


def _topk(scored: list[tuple[int, float]], k: int) -> list[tuple[int, float]]:
    """ORDER BY sim DESC, id ASC LIMIT k."""
    return sorted(scored, key=lambda t: (-t[1], t[0]))[:k]


def lsh_topk(
    embs: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nbits: int = 8,
    probes: int = 16,
    tables: int = 1,
) -> list[tuple[int, float]]:
    """Reference multi-table multi-probe hyperplane-LSH top-k. The
    bucket membership test runs through the same float64 matmul shape
    as the engine's Arrow kernel (sign decisions must agree bitwise);
    the exact cosine of surviving candidates uses the sequential fold."""
    dim = len(query_vec)
    planes_by_table = [
        det_planes(dim, nbits, seed=42 + 7919 * t) for t in range(max(tables, 1))
    ]
    probe_sets = [probe_buckets(query_vec, p, probes) for p in planes_by_table]
    ids = [i for i, _ in embs]
    m = np.stack([np.asarray(v, dtype=np.float64) for _, v in embs])
    planes = np.array(
        [p for tbl in planes_by_table for p in tbl], dtype=np.float64
    )
    signs = (m @ planes.T) >= 0
    weights = (1 << np.arange(nbits)).astype(np.int64)
    hit = np.zeros(len(ids), dtype=bool)
    for t in range(max(tables, 1)):
        buckets = signs[:, t * nbits:(t + 1) * nbits].astype(np.int64) @ weights
        hit |= np.isin(buckets, np.array(sorted(probe_sets[t]), dtype=np.int64))
    q = [float(v) for v in query_vec]
    scored = [
        (ids[i], round_half_up6(seq_cosine([float(x) for x in m[i]], q)))
        for i in range(len(ids))
        if hit[i]
    ]
    return _topk(scored, k)


def _cast_double_to_dec12(d: float) -> Decimal:
    """JVM double -> DECIMAL(28,12) cast: shortest-repr decimal of the
    double, HALF_UP at scale 12."""
    return Decimal(repr(d)).quantize(Decimal("1e-12"), ROUND_HALF_UP)


def _avg_dec12_as_double(values: list[float]) -> float:
    """AVG(CAST(v AS DECIMAL(28,12))) CAST AS DOUBLE: exact decimal sum,
    division at result scale 16, HALF_UP, then correctly-rounded to
    binary double."""
    total = sum((_cast_double_to_dec12(v) for v in values), Decimal(0))
    mean = (total / Decimal(len(values))).quantize(
        Decimal("1e-16"), ROUND_HALF_UP
    )
    return float(mean)


def _argmax_cells(m: np.ndarray, centroids: list[list[float]]) -> np.ndarray:
    """1-based max-cosine cell assignment, same numpy ops as the
    engine's Arrow kernel (normalize both sides, one matmul, first-max
    argmax)."""
    c = np.array(centroids, dtype=np.float64)
    c_norm = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-300)
    m_norm = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
    sims = m_norm @ c_norm.T
    return np.argmax(sims, axis=1) + 1


def kmeans_centroids(
    embs: list[tuple[int, list[float]]],
    n_cells: int = 16,
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Reference deterministic spherical k-means: init = first n_cells
    vectors by id; per-position per-cell means through the decimal
    accumulator (partition-order-independent by construction, so one
    sequential pass reproduces the distributed result exactly)."""
    by_id = sorted(embs, key=lambda t: t[0])
    centroids = [
        (int(i), [float(x) for x in v]) for i, v in by_id[:n_cells]
    ]
    m = np.stack(
        [np.asarray(v, dtype=np.float64) for _, v in embs]
    )
    dim = m.shape[1]
    for _ in range(iters):
        cells = _argmax_cells(m, [c for _, c in centroids])
        new = []
        for ci, (cid, old) in enumerate(centroids, start=1):
            rows = m[cells == ci]
            if len(rows):
                new.append(
                    (cid, [_avg_dec12_as_double(rows[:, p].tolist()) for p in range(dim)])
                )
            else:
                new.append((cid, old))
        centroids = new
    return centroids


def ivf_topk(
    embs: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    train_iters: int = 2,
) -> list[tuple[int, float]]:
    """Reference IVF ANN: k-means coarse cells, probe the nprobe cells
    whose centroids are nearest the query, exact cosine inside."""
    centroids = kmeans_centroids(embs, n_cells=n_cells, iters=train_iters)
    m = np.stack([np.asarray(v, dtype=np.float64) for _, v in embs])
    cells = _argmax_cells(m, [c for _, c in centroids])
    cell_ids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    sims = sorted(
        (
            (
                sum(a * b for a, b in zip(query_vec, cvec))
                / (
                    (sum(a * a for a in query_vec) ** 0.5)
                    * (sum(b * b for b in cvec) ** 0.5)
                ),
                cid,
            )
            for cid, cvec in centroids
        ),
        reverse=True,
    )
    probe = {cid for _, cid in sims[:nprobe]}
    q = [float(v) for v in query_vec]
    scored = [
        (embs[i][0], round_half_up6(seq_cosine([float(x) for x in m[i]], q)))
        for i in range(len(embs))
        if int(cell_ids[cells[i] - 1]) in probe
    ]
    return _topk(scored, k)


# ----------------------------------------------------------------------
# multimodal decode features (operators/multimodal.py)
# ----------------------------------------------------------------------


def fake_decode(payload: bytes, dim: int) -> list[float]:
    """FNV-1a rolling hash folded into ``dim`` floats in [0, 1) — the
    engine's deterministic codec stand-in, same published FNV
    constants."""
    if payload is None:
        return [0.0] * dim
    acc = [0] * dim
    h = 1469598103934665603
    for i, byte in enumerate(payload):
        h = ((h ^ byte) * 1099511628211) % (1 << 64)
        acc[i % dim] = (acc[i % dim] + h) % (1 << 32)
    return [a / float(1 << 32) for a in acc]


def png_grid_band_means(media_id: int, dim: int = 4, side: int = 8) -> list[float]:
    """Expected band-mean features for the synthetic decode-PNG entry:
    pixels[r][c] = (7*id + 13*r + 29*c) mod 256 on an 8x8 gray grid,
    dim horizontal bands, mean intensity / 256.  Computed straight from
    the pixel formula — no PNG codec involved — so a codec bug on
    either side shows up as a mismatch."""
    out = []
    rows_per_band = [[] for _ in range(dim)]
    for r in range(side):
        rows_per_band[r * dim // side].extend(
            (media_id * 7 + r * 13 + c * 29) % 256 for c in range(side)
        )
    for band in rows_per_band:
        out.append((sum(band) / len(band)) / 256.0 if band else 0.0)
    return out


# ----------------------------------------------------------------------
# JVM-compatible JSON rendering of double arrays (to_json parity)
# ----------------------------------------------------------------------


def java_double_str(v: float) -> str:
    """Java ``Double.toString`` formatting of a double: shortest
    round-trip digits; plain decimal in [1e-3, 1e7), scientific
    ``d.dddEn`` outside; always at least one fractional digit."""
    if v != v:
        return "NaN"
    if v == float("inf"):
        return "Infinity"
    if v == float("-inf"):
        return "-Infinity"
    sign = "-" if (v < 0 or (v == 0 and str(v)[0] == "-")) else ""
    a = abs(v)
    if a == 0:
        return sign + "0.0"
    # shortest round-trip digits via repr, normalized to (digits, exp)
    # with value = 0.digits * 10^exp
    r = repr(a)
    if "e" in r or "E" in r:
        mant, _, es = r.lower().partition("e")
        exp10 = int(es)
    else:
        mant, exp10 = r, 0
    if "." in mant:
        int_part, frac = mant.split(".")
    else:
        int_part, frac = mant, ""
    digits = (int_part + frac).lstrip("0")
    exp = exp10 + len(int_part.lstrip("0")) if int_part.lstrip("0") else (
        exp10 - (len(frac) - len(frac.lstrip("0")))
    )
    digits = digits.rstrip("0") or "0"
    if 1e-3 <= a < 1e7:
        if exp <= 0:
            s = "0." + "0" * (-exp) + digits
        elif exp >= len(digits):
            s = digits + "0" * (exp - len(digits)) + ".0"
        else:
            s = digits[:exp] + "." + digits[exp:]
        return sign + s
    mant_s = digits[0] + "." + (digits[1:] or "0")
    return sign + mant_s + "E" + str(exp - 1)


def as_float32(vals: list[float]) -> list[float]:
    """Round-trip through binary32: the media feature column is
    array<float>, so every double is truncated at the Arrow boundary
    before the contract-boundary cast back to double."""
    return [float(np.float32(v)) for v in vals]


def to_json_doubles(vals: list[float] | None, round6: bool = True) -> str | None:
    """``to_json(transform(arr, x -> round(x, 6)))`` replica: JSON array
    of Java-formatted doubles, no spaces."""
    if vals is None:
        return None
    if round6:
        vals = [round_half_up6(v) for v in vals]
    return "[" + ",".join(java_double_str(v) for v in vals) + "]"
