"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design notes for 100 TB scale:

- Exact dedup is a hash-groupBy: one shuffle on a 128-bit content
  fingerprint (uniformly distributed, so no skew), map-side combine.
- MinHash shingle hashes AND signatures come out of ONE Arrow kernel
  (vectorized XXH64 over UTF-8 char windows -> affine permutations ->
  reduceat min): a single map stage, one Python round trip. The
  equivalent JVM higher-order-function pipeline stays as the parity
  oracle but evaluates interpreted (no codegen for HOF lambdas) and
  measured ~25x slower per pass. LSH banding explodes to
  ``bands`` rows per doc and shuffles on (band, band_hash) — the
  standard near-dup join; band buckets are uniformly distributed by the
  hash, so skew only appears for *actually identical* band signatures,
  which is the signal itself.
- MinHash candidates are verified with exact shingle-set Jaccard
  inside each capped LSH bucket (one Arrow kernel per bucket, no join);
  n-gram candidates with array_intersect JVM-side.
- SimHash is a per-row aggregate over token hashes (F.aggregate), one
  map stage; near-dup banding splits the 64-bit signature into 4
  16-bit chunks (Hamming distance <= 3 guarantee by pigeonhole).
- Tiny inputs (``gate.Probe.tiny``) skip Spark's fixed cost: MinHash
  and n-gram pairs fetch the normalized texts once and run the same
  kernels, bucket keys, caps and collapse on the driver
  (:func:`_driver_jaccard_pairs`), returning a local relation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sidemantic_spark.operators import gate

# Mersenne prime 2^31-1: affine permutation products of two 31-bit
# values stay < 2^62, inside bigint range (Spark 4 runs ANSI mode, so a
# long overflow is an error, not a wrap).
_P = (1 << 31) - 1


def _norm(text: Column) -> Column:
    """Whitespace/case-normalized text."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def _shingles_of_norm(norm: Column, k: int = 5) -> Column:
    """Character k-shingles of a normalized text column.

    NOTE: pass a *pre-materialized* normalized column. Spark evaluates
    higher-order-function lambdas interpreted, with no
    common-subexpression hoisting: referencing the regexp_replace
    subtree inside the per-position lambda re-runs the regex once per
    shingle position (measured ~10x the whole stage).
    """
    n = F.length(norm)
    return F.when(n < k, F.array(norm)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: norm.substr(i, F.lit(k)),
            )
        )
    )


def _shingle_hashes_of_norm(norm: Column, k: int = 5) -> Column:
    """Distinct non-negative 61-bit hashes of the char k-shingles."""
    return F.array_distinct(
        F.transform(
            _shingles_of_norm(norm, k),
            lambda s: F.pmod(F.xxhash64(s), F.lit(_P)),
        )
    )


def _perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation constants (LCG schedule)."""
    out = []
    a, b = 0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F
    for _i in range(num_hashes):
        a = (a * 6364136223846793005 + 1442695040888963407) % _P
        b = (b * 6364136223846793005 + 1442695040888963407) % _P
        out.append((a | 1, b))
    return out


def minhash_signature_from_hashes(hashes: Column, num_hashes: int = 64) -> Column:
    """sig_i = min over shingle hashes of (a_i*h + b_i) mod p.

    Pure-Column reference implementation: ONE ``aggregate`` pass over
    the shingle array with the (a_i, b_i) table as a constant
    array-of-structs and an inner ``zip_with`` doing the num_hashes-way
    min update. a_i*h + b_i < 2^62 + 2^31 stays inside bigint under
    ANSI mode. Higher-order functions are evaluated interpreted (no
    codegen), so for bulk corpora :func:`_sig_and_shingles` — identical
    arithmetic, numpy — is ~50x faster; ``minhash_lsh_pairs`` uses that
    path. This one stays as the oracle for parity tests and for
    contexts where a Python runner is unavailable.
    """
    consts = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
        for a, b in _perm_constants(num_hashes)
    ])
    init = F.array_repeat(F.lit(_P).cast("long"), num_hashes)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            consts,
            lambda m, c: F.least(m, F.pmod(c["a"] * h + c["b"], F.lit(_P))),
        ),
    )


# xxHash64 primes (public spec); numpy uint64 arithmetic wraps mod 2^64
# exactly like the JVM's, so the vectorized kernel below reproduces the
# engine expression xxhash64(shingle) bit-for-bit.
_XP1 = np.uint64(0x9E3779B185EBCA87)
_XP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XP3 = np.uint64(0x165667B19E3779F9)
_XP4 = np.uint64(0x85EBCA77C2B2AE63)
_XP5 = np.uint64(0x27D4EB2F165667C5)
_U64 = np.uint64


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _xxh64_windows(
    data: np.ndarray, starts: np.ndarray, lengths: np.ndarray, seed: int = 42
) -> np.ndarray:
    """Vectorized XXH64 (seed 42, the SQL xxhash64 default) over byte
    windows ``data[starts[i] : starts[i]+lengths[i]]``.

    Windows are grouped by byte length (k char-shingles are one length
    on ASCII text, word n-grams a few dozen), and each group runs XXH64
    as numpy column operations over every window at once: inputs >= 32
    bytes take the spec's 4-accumulator 32-byte stripe path first, then
    all lengths share the tail — 8-byte lanes, one 4-byte lane, single
    bytes, avalanche. All arithmetic wraps in uint64 exactly per spec,
    so values are bit-identical to the engine's ``xxhash64``."""
    out = np.empty(len(starts), dtype=np.uint64)
    for L64 in np.unique(lengths):
        L = int(L64)
        sel = lengths == L64
        s = starts[sel]
        pos = 0
        if L >= 32:
            accs = [
                np.full(len(s), _U64((seed + int(_XP1) + int(_XP2)) & ((1 << 64) - 1)), dtype=np.uint64),
                np.full(len(s), _U64((seed + int(_XP2)) & ((1 << 64) - 1)), dtype=np.uint64),
                np.full(len(s), _U64(seed), dtype=np.uint64),
                np.full(len(s), _U64((seed - int(_XP1)) & ((1 << 64) - 1)), dtype=np.uint64),
            ]
            while L - pos >= 32:
                for k in range(4):
                    lane = np.zeros(len(s), dtype=np.uint64)
                    for j in range(8):
                        lane |= data[s + (pos + 8 * k + j)].astype(np.uint64) << _U64(8 * j)
                    accs[k] = _rotl64(accs[k] + lane * _XP2, 31) * _XP1
                pos += 32
            h = (
                _rotl64(accs[0], 1) + _rotl64(accs[1], 7)
                + _rotl64(accs[2], 12) + _rotl64(accs[3], 18)
            )
            for k in range(4):
                h ^= _rotl64(accs[k] * _XP2, 31) * _XP1  # mergeRound(h, acc)
                h = h * _XP1 + _XP4
            h += _U64(L)
        else:
            h = np.full(
                len(s), _U64((seed + int(_XP5) + L) & ((1 << 64) - 1)), dtype=np.uint64
            )
        while L - pos >= 8:
            lane = np.zeros(len(s), dtype=np.uint64)
            for j in range(8):
                lane |= data[s + (pos + j)].astype(np.uint64) << _U64(8 * j)
            h ^= _rotl64(lane * _XP2, 31) * _XP1
            h = _rotl64(h, 27) * _XP1 + _XP4
            pos += 8
        if L - pos >= 4:
            w = np.zeros(len(s), dtype=np.uint64)
            for j in range(4):
                w |= data[s + (pos + j)].astype(np.uint64) << _U64(8 * j)
            h ^= w * _XP1
            h = _rotl64(h, 23) * _XP2 + _XP3
            pos += 4
        while pos < L:
            h ^= data[s + pos].astype(np.uint64) * _XP5
            h = _rotl64(h, 11) * _XP1
            pos += 1
        h ^= h >> _U64(33)
        h *= _XP2
        h ^= h >> _U64(29)
        h *= _XP3
        h ^= h >> _U64(32)
        out[sel] = h
    return out


def _word_grams(norms, n: int) -> list[np.ndarray]:
    """Word n-gram hashes: normalized texts -> sorted-distinct int64
    arrays of ``xxhash64`` over the space-joined grams (bit-identical to
    the engine expression
    ``xxhash64(concat_ws(' ', slice(split(norm, ' '), i, n)))``).

    Space-joined grams are contiguous byte windows of the normalized
    text, so the whole batch hashes as one :func:`_xxh64_windows` call —
    token boundaries come from one vectorized space scan per doc, no
    per-gram string is ever materialized (the interpreted HOF this
    replaces built a ~50-char string per gram; measured ~3.5x faster
    end-to-end on the ngram benchmark query). Docs shorter than ``n``
    words contribute their whole text as one gram.
    """
    bufs = [s.encode("utf-8") for s in norms]
    if not bufs:
        return []
    doc_lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    doc_off = np.zeros(len(bufs) + 1, dtype=np.int64)
    np.cumsum(doc_lens, out=doc_off[1:])
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    starts_all, lens_all, counts = [], [], []
    for d in range(len(bufs)):
        a, b = int(doc_off[d]), int(doc_off[d + 1])
        arr = data[a:b]
        sp = np.nonzero(arr == 32)[0]
        tok_starts = np.empty(len(sp) + 1, dtype=np.int64)
        tok_starts[0] = 0
        tok_starts[1:] = sp + 1
        tok_ends = np.empty(len(sp) + 1, dtype=np.int64)
        tok_ends[:-1] = sp
        tok_ends[-1] = b - a
        t = len(tok_starts)
        if t >= n:
            ws = tok_starts[: t - n + 1]
            we = tok_ends[n - 1:]
        else:
            ws, we = tok_starts[:1], tok_ends[-1:]
        starts_all.append(ws + a)
        lens_all.append(we - ws)
        counts.append(len(ws))
    h = _xxh64_windows(
        data, np.concatenate(starts_all), np.concatenate(lens_all)
    ).view(np.int64)
    out, pos = [], 0
    for c in counts:
        out.append(np.unique(h[pos:pos + c]))
        pos += c
    return out


def _word_gram_hashes_udf(n: int):
    """:func:`_word_grams` as an Arrow UDF: normalized text ->
    array<bigint>."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def grams(norm: pd.Series) -> pd.Series:
        return pd.Series(_word_grams(norm, n), dtype=object)

    return grams


def _sig_and_shingles(norms, num_hashes: int = 64, k: int = 5) -> tuple[list, np.ndarray]:
    """Shingle hashes and MinHash signatures of normalized texts:
    (sorted-distinct int64 shingle-hash arrays, an n x ``num_hashes``
    int64 signature matrix).

    Replaces the JVM higher-order-function shingle pipeline
    (transform/substr/xxhash64/array_distinct) for the bulk dedup path:
    HOF lambdas evaluate INTERPRETED with no common-subexpression
    elimination, and the ~2 s/5k-doc shingle stage dominated the whole
    operator (and was re-evaluated once per verify side — exprIds
    defeat exchange reuse). Here char windows are located with one
    UTF-8 continuation-byte scan, hashed by the vectorized XXH64 above
    (bit-identical to the xxhash64 expression — parity-tested against
    the Column form in tests/test_operators.py), reduced mod 2^31-1,
    uniqued per doc, and fed straight into the signature reduceat.
    The sets come out sorted (np.unique) where the Column form keeps
    first-occurrence order; every consumer is order-insensitive (set
    ops, min)."""
    consts = _perm_constants(num_hashes)
    A = np.array([a for a, _ in consts], dtype=np.int64)
    B = np.array([b for _, b in consts], dtype=np.int64)
    n = len(norms)
    if n == 0:
        return [], np.empty((0, num_hashes), dtype=np.int64)
    enc = [s.encode("utf-8") for s in norms]
    blob = b"".join(enc)
    data = (
        np.frombuffer(blob, dtype=np.uint8)
        if blob
        else np.empty(0, dtype=np.uint8)
    )
    byte_lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=n)
    doc_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(byte_lens, out=doc_off[1:])
    cs_all = (
        np.flatnonzero((data & 0xC0) != 0x80)
        if len(data)
        else np.empty(0, dtype=np.int64)
    )
    lo = np.searchsorted(cs_all, doc_off[:-1], side="left")
    hi = np.searchsorted(cs_all, doc_off[1:], side="left")
    w_starts, w_lens = [], []
    for i in range(n):
        cs = cs_all[lo[i]:hi[i]]
        n_chars = len(cs)
        end = doc_off[i + 1]
        if n_chars < k:
            # whole (short) doc is the single shingle, "" included
            w_starts.append(np.array([doc_off[i]], dtype=np.int64))
            w_lens.append(np.array([end - doc_off[i]], dtype=np.int64))
        else:
            ws = cs[: n_chars - k + 1]
            ends = np.concatenate([cs[k:], np.array([end], dtype=np.int64)])
            w_starts.append(ws)
            w_lens.append(ends - ws)
    counts = np.fromiter((len(w) for w in w_starts), dtype=np.int64, count=n)
    with np.errstate(over="ignore"):
        hashes = _xxh64_windows(
            data, np.concatenate(w_starts), np.concatenate(w_lens)
        )
    sh_mod = np.remainder(hashes.view(np.int64), _P)
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=bounds[1:])
    sh_list = [np.unique(sh_mod[bounds[i]:bounds[i + 1]]) for i in range(n)]
    dlens = np.fromiter((len(a) for a in sh_list), dtype=np.int64, count=n)
    hcat = np.concatenate(sh_list)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(dlens[:-1], out=offs[1:])
    sigs = np.empty((num_hashes, n), dtype=np.int64)
    buf = np.empty_like(hcat)
    for i in range(num_hashes):
        np.multiply(hcat, A[i], out=buf)
        np.add(buf, B[i], out=buf)
        np.remainder(buf, _P, out=buf)
        sigs[i] = np.minimum.reduceat(buf, offs)
    return sh_list, np.ascontiguousarray(sigs.T)


def _sig_and_shingles_udf(num_hashes: int = 64, k: int = 5, pack_sh: bool = False):
    """:func:`_sig_and_shingles` as an Arrow UDF: normalized text ->
    struct(sh: array<bigint>, sig: array<bigint>), one Arrow round trip
    for both outputs.

    ``pack_sh=True`` emits ``sh`` as a PACKED little-endian int32 blob
    (binary) instead of an array column — the bucket-local verify ships
    each set once per band through the banding shuffle, and Spark's
    unsafe array format plus the JVM<->Arrow nested-array conversions
    cost ~2x the raw bytes; an opaque 4-byte-per-hash blob halves the
    exchange and skips per-element handling (hashes are mod 2^31-1 by
    construction, so int32 is lossless). The verify kernel
    ``np.frombuffer``s it back for free."""
    from pyspark.sql.functions import pandas_udf

    sh_type = "binary" if pack_sh else "array<bigint>"

    @pandas_udf(f"struct<sh: {sh_type}, sig: array<bigint>>")
    def kern(norm: pd.Series) -> pd.DataFrame:
        sh_list, sigs = _sig_and_shingles(norm, num_hashes, k)
        if pack_sh:
            sh_list = [a.astype(np.int32).tobytes() for a in sh_list]
        return pd.DataFrame({"sh": sh_list, "sig": list(sigs)})

    return kern


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per identical (normalized) content.

    ONE pass: rows shuffle once on the md5 fingerprint and the survivor
    test is a min-id window over that partition. The former shape — a
    groupBy(min id) branch left-semi-joined back — read the input twice
    and, at corpus scale, the keep-set (~one id per distinct content)
    is far too big to broadcast, so the join degraded to a second
    full-row shuffle by id plus sorts; the window spends one full-row
    exchange either way and drops the extra scan and join entirely
    (guide §2.4).
    """
    from pyspark.sql import Window

    from sidemantic_spark.operators.text import fingerprint

    fp = fingerprint(F.col(text_col)).alias("__fp")
    keyed = df.select("*", fp)
    # NULL-id rows drop either way: MIN ignores NULLs, NULL == min is
    # NULL, and the former join-on-id never matched a NULL id
    return (
        keyed.withColumn(
            "__keep",
            F.min(id_col).over(Window.partitionBy("__fp")) == F.col(id_col),
        )
        .where("__keep")
        .drop("__fp", "__keep")
    )


def exact_dup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(n_docs, n_unique, n_dup_docs) over normalized content."""
    from sidemantic_spark.operators.text import fingerprint

    keyed = df.select(fingerprint(F.col(text_col)).alias("__fp"))
    return keyed.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("__fp").alias("n_unique"),
        (F.count("*") - F.countDistinct("__fp")).alias("n_dup_docs"),
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    prefix_words: int | None = None,
) -> DataFrame:
    """Cross-source duplicate overlap: for every unordered source pair
    (source_a < source_b), how many DISTINCT content fingerprints
    appear in both — the "which crawls duplicate each other" matrix
    that drives source-level dedup priorities in corpus curation.

    ``prefix_words=N`` fingerprints only the first N normalized words
    (prefix/boilerplate dedup: near-identical pages differing in a
    footer still collide); None fingerprints the whole document.

    Plan shape: ONE pass — collect the per-fingerprint source SET (the
    map-side-combined aggregate dedups (fp, source) exactly like the
    former DISTINCT), then expand ordered pairs from the sorted set
    inline. The set is bounded by the number of SOURCES (tens, not
    rows), so per-fp pair expansion is at most |sources|^2 — no
    quadratic blowup regardless of how many documents share a
    fingerprint — and the only shuffles are the fp aggregation and the
    tiny pair-count aggregation. The earlier self-join shape computed
    the fingerprint scan + DISTINCT subtree TWICE (one per join side —
    expression ids defeat exchange reuse) and shuffled the joined pair
    rows besides; NULL fingerprints are filtered explicitly where the
    equi-join used to drop them. At 100 TB only (16-byte fp, source)
    rows ride the shuffle; the documents never move.
    """
    from sidemantic_spark.operators.text import fingerprint

    if prefix_words is not None:
        fp = F.md5(
            F.array_join(
                F.slice(F.split(_norm(F.col(text_col)), " "), 1, prefix_words),
                " ",
            )
        )
    else:
        fp = fingerprint(F.col(text_col))
    sets = (
        df.select(fp.alias("__fp"), F.col(group_col).alias("__src"))
        .where(F.col("__fp").isNotNull())
        .groupBy("__fp")
        .agg(F.sort_array(F.collect_set("__src")).alias("__srcs"))
    )
    pairs = F.explode(
        F.flatten(
            F.transform(
                F.col("__srcs"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("__srcs"), i + F.lit(2), F.size(F.col("__srcs"))
                    ),
                    lambda y: F.struct(
                        x.alias("source_a"), y.alias("source_b")
                    ),
                ),
            )
        )
    )
    return (
        sets.select(pairs.alias("__p"))
        .select("__p.source_a", "__p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_fingerprints"))
    )


def _bucket_verify_kernel(threshold: float = 0.0, id_type: str = "bigint"):
    """Arrow kernel: per capped LSH bucket, exact pairwise set
    intersection/union sizes for every (i < j) member pair, emitted as
    COLUMNAR arrays and pre-filtered by ``threshold``.

    r12 rewrite, driven by the sf10 profile: the per-pair Python loop
    built ~19.3M result dicts per 500k-doc run (4 boxed ints each) —
    the allocation/GC churn dominated the verify stage and drove its
    2-4x run-to-run wobble. Now each bucket computes ALL pairwise
    intersection counts in one shot: ``np.unique(concat,
    return_inverse)`` builds a (members x distinct-hash) 0/1 matrix and
    ``M @ M.T`` is the full intersection-count matrix (row sums = set
    sizes, so unions are free). Python cost is per BUCKET (~1M at
    sf10), not per pair (~19M), and the output is four numpy arrays —
    zero per-pair Python objects. Oversized buckets (> 64 members,
    where the k x V matmul would outgrow the pair loop) keep the
    searchsorted pair path but write into arrays.

    ``threshold`` drops non-survivors INSIDE the kernel with a
    ``-1e-9``-slack comparison — a conservative SUPERSET of the exact
    JVM filter (which still applies ``ROUND(c/u, 6) >= t`` downstream),
    so only the ~0.1% surviving pairs ever cross Arrow or ride the
    dedup shuffle. Sets arrive np.unique-sorted
    (``_sig_and_shingles_udf``).

    Ids pass through as the bucket delivers them, so ``id_type`` (the
    id column's DDL type) may be any ordered type: string ids compare
    as Python strings, i.e. by code point, which is Spark's UTF-8 byte
    order."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        f"struct<id_a:array<{id_type}>,id_b:array<{id_type}>,"
        "c:array<int>,u:array<int>>"
    )
    def kern(ids: pd.Series, shs: pd.Series) -> pd.DataFrame:
        out_a, out_b, out_c, out_u = [], [], [], []
        for idl, sets in zip(ids, shs):
            k = len(sets)
            idarr = np.asarray(idl)
            if k < 2:
                out_a.append(idarr[:0])
                out_b.append(idarr[:0])
                out_c.append(np.empty(0, dtype=np.int32))
                out_u.append(np.empty(0, dtype=np.int32))
                continue
            arrs = [
                np.frombuffer(s, dtype=np.int32)
                if isinstance(s, (bytes, bytearray))
                else np.asarray(s)
                for s in sets
            ]
            sizes = np.fromiter((a.size for a in arrs), dtype=np.int64, count=k)
            if k <= 64:
                concat = np.concatenate(arrs)
                uniq, inv = np.unique(concat, return_inverse=True)
                m = np.zeros((k, uniq.size), dtype=np.int32)
                m[np.repeat(np.arange(k), sizes), inv] = 1
                cm = m @ m.T
                iu, ju = np.triu_indices(k, 1)
                c = cm[iu, ju]
                u = (sizes[iu] + sizes[ju] - c).astype(np.int64)
                ia, ib = idarr[iu], idarr[ju]
            else:
                n_pairs = k * (k - 1) // 2
                c = np.empty(n_pairs, dtype=np.int64)
                ia = np.empty(n_pairs, dtype=idarr.dtype)
                ib = np.empty(n_pairs, dtype=idarr.dtype)
                su = np.empty(n_pairs, dtype=np.int64)
                pos_out = 0
                for i in range(k):
                    a = arrs[i]
                    for j in range(i + 1, k):
                        b = arrs[j]
                        big, small = (a, b) if a.size >= b.size else (b, a)
                        pos = np.searchsorted(big, small)
                        ok = pos < big.size
                        c[pos_out] = np.count_nonzero(
                            big[pos[ok]] == small[ok]
                        )
                        su[pos_out] = a.size + b.size
                        ia[pos_out] = idarr[i]
                        ib[pos_out] = idarr[j]
                        pos_out += 1
                u = su - c
            keep = c.astype(np.float64) >= (threshold - 1e-9) * u
            lo = np.minimum(ia[keep], ib[keep])
            hi = np.maximum(ia[keep], ib[keep])
            out_a.append(lo)
            out_b.append(hi)
            out_c.append(c[keep].astype(np.int32))
            out_u.append(u[keep].astype(np.int32))
        return pd.DataFrame(
            {"id_a": out_a, "id_b": out_b, "c": out_c, "u": out_u}
        )

    return kern


def bucket_local_jaccard_pairs(
    banded_sets: DataFrame,
    threshold: float,
    bucket_cap: int = 256,
    members_col: str | None = None,
) -> DataFrame:
    """Corpus-scale exact-Jaccard verify evaluated INSIDE each capped
    LSH bucket instead of at pair grain.

    Input: (__id, band, bhash, __sh) — banding rows with the (sorted,
    int-cast) shingle-hash set attached map-side. The pair-grain verify
    (explode pairs -> id-join features -> groupBy pair) ships every
    candidate pair's TWO sets through a shuffle — measured ~30 GB /
    ~320 s at 500k docs x 18.7M candidates (template-heavy corpora put
    ~75 set-copies per doc on that shuffle). Here the sets ride the
    banding shuffle ONCE per band (16 copies per doc, ~5x fewer bytes
    on that corpus shape), buckets are capped by a row_number window
    that REUSES the banding shuffle's (band, bhash) partitioning (no
    second exchange, and no collect-then-slice of an uncapped
    mega-bucket's sets — the window caps BEFORE collect_list so peak
    per-group state is bucket_cap sets), and the exact verify runs
    vectorized in one Arrow kernel per bucket. Candidate pair set and
    jaccard values are bit-identical to the pair-grain path: the same
    id-sorted capped prefix pairs all (i < j), and the JVM computes the
    same ROUND(c / u, 6) from the kernel's exact set sizes. Duplicate
    pairs from multi-band collisions dedup AFTER the (cheap) verify —
    only survivors reach that shuffle.

    With ``members_col`` (the exact-dup collapse path, see
    :func:`minhash_lsh_pairs`) each banding row is a GROUP of
    identical-content docs represented by its lowest id; the member-id
    arrays ride the same banding shuffle, verified group pairs dedup at
    GROUP grain, and the surviving pairs expand to member cross
    products map-side — still zero joins anywhere in the plan.

    NOTE (r12 study, do not re-spend): dropping singleton buckets
    BEFORE the collect via a partition-count window (same partitioning,
    no new exchange) was prototyped and measured SLOWER (med 2.23 vs
    1.99 s interleaved noop at sf0.1, rows proven identical): the
    unbounded-frame count pass buffers the partition just like the
    collect it would spare, so it only adds a second Window operator."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "bhash").orderBy("__id")
    ranked = (
        banded_sets.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= bucket_cap)
    )
    aggs = [
        # collect_lists in one aggregate consume the same row
        # stream: positional alignment between ids and sets holds
        F.collect_list("__id").alias("__ids"),
        F.collect_list("__sh").alias("__shs"),
    ]
    if members_col is not None:
        aggs.append(F.collect_list(members_col).alias("__mems"))
    buckets = (
        ranked.groupBy("band", "bhash")
        .agg(*aggs)
        .where(F.size("__ids") > 1)
    )
    # the kernel pre-filters by threshold (conservative -1e-9 slack) and
    # returns columnar arrays; arrays_zip + explode rebuilds pair rows
    # JVM-side for the ~0.1% survivors, and the exact ROUND filter below
    # remains authoritative at the boundary
    kern = _bucket_verify_kernel(
        threshold, banded_sets.schema["__id"].dataType.simpleString()
    )
    pair_struct = F.explode(
        F.arrays_zip(
            F.col("__r.id_a").alias("id_a"),
            F.col("__r.id_b").alias("id_b"),
            F.col("__r.c").alias("c"),
            F.col("__r.u").alias("u"),
        )
    ).alias("p")
    if members_col is None:
        return (
            buckets.select(kern("__ids", "__shs").alias("__r"))
            .select(pair_struct)
            .select(
                "p.id_a",
                "p.id_b",
                F.round(
                    F.col("p.c").cast("double") / F.col("p.u").cast("double"), 6
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
            .dropDuplicates(["id_a", "id_b"])
        )
    verified = (
        buckets.select(
            kern("__ids", "__shs").alias("__r"),
            F.map_from_arrays("__ids", "__mems").alias("__m"),
        )
        .select(pair_struct, "__m")
        .select(
            "p.id_a",
            "p.id_b",
            F.round(
                F.col("p.c").cast("double") / F.col("p.u").cast("double"), 6
            ).alias("jaccard"),
            F.element_at("__m", F.col("p.id_a")).alias("__ma"),
            F.element_at("__m", F.col("p.id_b")).alias("__mb"),
        )
        .where(F.col("jaccard") >= threshold)
        # group-grain dedup: the expansion below is a pure map, so the
        # dedup shuffle carries one row per GROUP pair, not per doc pair
        .dropDuplicates(["id_a", "id_b"])
    )
    return _expand_member_pairs(verified)


def _expand_member_pairs(verified: DataFrame) -> DataFrame:
    """Map-side expansion of verified GROUP pairs (jaccard, __ma, __mb
    member-id arrays) to doc pairs: groups are disjoint id sets sharing
    identical content, so every cross member pair has exactly the
    group pair's jaccard, and least/greatest restores id_a < id_b."""
    return (
        verified.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("__ma"),
                        lambda a: F.transform(
                            F.col("__mb"),
                            lambda b: F.struct(
                                F.least(a, b).alias("id_a"),
                                F.greatest(a, b).alias("id_b"),
                            ),
                        ),
                    )
                )
            ).alias("q"),
            "jaccard",
        )
        .select("q.id_a", "q.id_b", "jaccard")
    )


def pairs_from_bucket_keys(
    banded: DataFrame, bucket_cap: int = 256
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from LSH bucket keys.

    Input: (__id, band, bhash) — one row per document per band. Pairs
    are generated by bucket-grouping: ONE shuffle on (band, bhash) and
    in-task pair expansion, vs. the textbook self-join's two shuffles +
    join. Buckets are capped: a bucket of B docs expands to B^2/2
    pairs, so one degenerate clique (boilerplate corpus, empty strings)
    would dominate the stage. The cap keeps the id-sorted FIRST
    ``bucket_cap`` members and drops the rest from that bucket — a
    beyond-cap member can still pair through its OTHER bucket keys
    (bands / grams), so in the LSH setting cliques stay connected with
    high probability, but exactness is conditional on caps not binding
    (they do not at contract scale; adversarial clique builds measure
    the bounded degradation).

    Shared by MinHash (Jaccard) and hyperplane (cosine) LSH.
    """
    from pyspark.sql import Window

    # cap BEFORE collecting: rank<=k rewrites to a map-side
    # WindowGroupLimit (same shape as the bucket-local verify), so a
    # degenerate bucket ships at most bucket_cap rows per map partition
    # and the collect_list buffer is bounded — the former
    # collect-everything-then-slice accumulated the WHOLE bucket in one
    # aggregation buffer first. row_number ordered by __id keeps the
    # same id-sorted first-cap member set; the aggregation reuses the
    # window's (band, bhash) partitioning, so the exchange count is
    # unchanged.
    w = Window.partitionBy("band", "bhash").orderBy("__id")
    capped = banded.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= bucket_cap
    )
    buckets = capped.groupBy("band", "bhash").agg(
        F.array_sort(F.collect_list("__id")).alias("__ids")
    )
    return (
        buckets.where(F.size("__ids") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("__ids"),
                        lambda a, i: F.transform(
                            F.slice(F.col("__ids"), i + 2, bucket_cap),
                            lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        # ONE shuffle does both dedup and verify-parallelism pinning:
        # repartition hash-distributes on the dedup keys, so the
        # following dropDuplicates reuses that partitioning (no second
        # Exchange — verified in the plan). The explicit repartition
        # matters because pair rows are tiny (16B) but each costs an
        # exact verify (Jaccard / cosine) downstream — AQE coalesces
        # shuffles by BYTE size and would run the CPU-bound verify on
        # 1-2 cores (measured 27s of a 37s run); explicit repartitions
        # are exempt from AQE coalescing.
        .repartition(
            banded.sparkSession.sparkContext.defaultParallelism,
            "id_a", "id_b",
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def pair_sides(
    pairs: DataFrame, side: DataFrame, cols: tuple[str, ...], broadcast: bool
) -> DataFrame:
    """Attach both sides of each candidate pair: (id_a, id_b) pairs and
    an (__id, *cols) side frame give (id_a, id_b, <c>_a, <c>_b) for
    each ``c`` in ``cols``. Two physical forms; the caller's gate picks:

    - ``broadcast``: two MAP-ONLY broadcast joins — no side column
      rides any shuffle. The side subtree is evaluated twice, but both
      evaluations are broadcast builds (driver-side, once), not
      per-pair work. The caller's gate bounds ``side`` by the byte
      budget.
    - long format (corpus scale): each pair explodes to one row per
      side id, joins ``side`` ONCE on id, and a groupBy(pair)
      reassembles the two sides. This scans/computes ``side`` exactly
      once (two per-side shuffle joins would evaluate its subtree twice
      — HOF lambda exprIds and PythonUDFs defeat exchange reuse) and
      assumes nothing about its size: the only 100 TB-safe shape.

    ``__id`` must be unique in ``side``: with duplicate ids the
    broadcast form emits one row per match while the long form's
    groupBy collapses them.
    """
    if broadcast:
        for s in ("a", "b"):
            pairs = pairs.join(
                F.broadcast(
                    side.select(
                        F.col("__id").alias(f"id_{s}"),
                        *[F.col(c).alias(f"{c}_{s}") for c in cols],
                    )
                ),
                f"id_{s}",
            )
        return pairs
    long = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("__id")
    )
    return long.join(side, "__id").groupBy("id_a", "id_b").agg(
        *[
            F.max(F.when(F.col("__id") == F.col(f"id_{s}"), F.col(c))).alias(f"{c}_{s}")
            for c in cols
            for s in ("a", "b")
        ]
    )


def _bucket_pairs(
    doc: np.ndarray, key: np.ndarray, cap: int
) -> tuple[np.ndarray, np.ndarray]:
    """The driver path's candidate generation: the distinct pairs
    (ia < ib) of doc indices sharing a bucket. Doc indices are in id
    order, rows (doc, key) group by key, and each group keeps its
    ``cap`` lowest-id members — the same id-sorted cap prefix as
    :func:`pairs_from_bucket_keys` and the bucket-local verify. A group
    whose capped member list repeats (the same near-dup cluster in
    every band) expands once."""
    order = np.lexsort((doc, key))
    doc, key = doc[order], key[order]
    starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    sizes = np.diff(np.r_[starts, len(key)])
    seen, ia, ib = set(), [], []
    for st, sz in zip(starts[sizes > 1], sizes[sizes > 1]):
        members = doc[st:st + min(sz, cap)]
        sig = members.tobytes()
        if sig not in seen:
            seen.add(sig)
            iu, ju = np.triu_indices(len(members), 1)
            ia.append(members[iu])
            ib.append(members[ju])
    if not ia:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    n = int(doc.max()) + 1
    code = np.unique(np.concatenate(ia) * n + np.concatenate(ib))
    return code // n, code % n


def _set_overlaps(sets: list, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
    """|A ∩ B| for each candidate pair of sorted-distinct int64 sets,
    each pair verified once: pairs group by their first doc, whose set
    is marked in a bitmap over the distinct elements, and the partners'
    elements are counted against it in one gather per group."""
    lens = np.fromiter((len(a) for a in sets), dtype=np.int64, count=len(sets))
    _, inv = np.unique(np.concatenate(sets), return_inverse=True)
    offs = np.zeros(len(sets) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    mark = np.zeros(int(inv.max()) + 1, dtype=bool)
    order = np.argsort(ia, kind="stable")
    starts = np.flatnonzero(np.r_[True, ia[order][1:] != ia[order][:-1]])
    c = np.empty(len(ia), dtype=np.int64)
    for p in np.split(order, starts[1:]):
        a = inv[offs[ia[p[0]]]:offs[ia[p[0]] + 1]]
        mark[a] = True
        k = lens[ib[p]]
        pair = np.repeat(np.arange(len(p)), k)
        elem = np.arange(int(k.sum())) - np.repeat(np.cumsum(k) - k, k) + np.repeat(offs[ib[p]], k)
        c[p] = np.bincount(pair, weights=mark[inv[elem]], minlength=len(p))
        mark[a] = False
    return c


def _collapse(norms: np.ndarray, cap: int) -> list[np.ndarray]:
    """The driver path's exact-duplicate groups (:func:`_collapse_groups`):
    doc indices (id order) sharing one normalized text, each group's
    ``cap`` lowest ids, groups ordered by their lowest id."""
    if not len(norms):
        return []
    _, inv = np.unique(norms, return_inverse=True)
    order = np.argsort(inv, kind="stable")
    cuts = np.flatnonzero(np.diff(inv[order])) + 1
    groups = [g[:cap] for g in np.split(order, cuts)]
    groups.sort(key=lambda g: g[0])
    return groups


def _driver_jaccard_pairs(
    spark,
    table,
    features,
    threshold: float,
    bucket_cap: int,
    group_cap: int | None,
) -> DataFrame:
    """Exact-Jaccard near-dup pairs of a fetched (__id, __norm) table,
    on the driver: the same candidates, caps and exact-dup collapse as
    the distributed plan, then one Arrow-backed local relation whose
    projection computes ROUND(c / u, 6) >= ``threshold`` in the JVM,
    exactly as the distributed verify does.

    ``features(norms)`` returns (sorted-distinct int64 sets, doc index
    of each bucket-key row, bucket key of each row). ``group_cap`` is
    None unless the corpus is duplicate-heavy (``Probe.dup_heavy``);
    then identical texts collapse first, within-group pairs emit
    c = u = 1 (1.0, as :func:`_within_group_pairs`) and verified group
    pairs expand to their members' cross products."""
    import pyarrow as pa

    table = table.sort_by("__id")
    norms = table.column("__norm").to_numpy(zero_copy_only=False)
    if group_cap is None:
        groups = None
        reps = np.arange(len(norms))
    else:
        groups = _collapse(norms, group_cap)
        reps = np.array([g[0] for g in groups], dtype=np.int64)
    sets, doc, key = features(norms[reps])
    ga, gb = _bucket_pairs(doc, key, bucket_cap)
    c = _set_overlaps(sets, ga, gb) if len(ga) else np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(a) for a in sets), dtype=np.int64, count=len(sets))
    u = lens[ga] + lens[gb] - c
    # the bucket kernel's conservative prefilter; the JVM filter below
    # stays authoritative
    keep = c >= (threshold - 1e-9) * u
    ga, gb, c, u = ga[keep], gb[keep], c[keep], u[keep]
    if groups is None:
        ia, ib = reps[ga], reps[gb]
    else:
        parts = [[], [], [], []]
        for g in groups:
            iu, ju = np.triu_indices(len(g), 1)
            parts[0].append(g[iu])
            parts[1].append(g[ju])
            parts[2].append(np.ones(len(iu), dtype=np.int64))
            parts[3].append(np.ones(len(iu), dtype=np.int64))
        for x, y, cx, ux in zip(ga, gb, c, u):
            ma, mb = groups[x], groups[y]
            a, b = np.repeat(ma, len(mb)), np.tile(mb, len(ma))
            parts[0].append(np.minimum(a, b))
            parts[1].append(np.maximum(a, b))
            parts[2].append(np.full(len(a), cx))
            parts[3].append(np.full(len(a), ux))
        ia, ib, c, u = (np.concatenate(p) if p else np.empty(0, dtype=np.int64) for p in parts)
    ids = table.column("__id")
    out = pa.table({
        "id_a": ids.take(pa.array(ia, pa.int64())),
        "id_b": ids.take(pa.array(ib, pa.int64())),
        "c": pa.array(c, pa.int64()),
        "u": pa.array(u, pa.int64()),
    })
    return spark.createDataFrame(out).select(
        "id_a",
        "id_b",
        F.round(F.col("c").cast("double") / F.col("u").cast("double"), 6).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def _band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """``bk``: a MinHash signature's LSH bucket keys, one
    (band, bhash) struct per band, exploded to one row per band."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    F.slice(sig, b * rows_per_band + 1, rows_per_band)
                ).alias("bhash"),
            ),
        )
    ).alias("bk")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding, verified with
    exact shingle-set Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b, deduplicated across
    bands. The verify runs INSIDE each capped (band, bhash) bucket
    (:func:`bucket_local_jaccard_pairs`): the shingle sets ride the
    banding shuffle, so the operator is one kernel pass and one wide
    shuffle with no join — the only 100 TB-safe shape, and measured
    faster than a broadcast verify at every scale tried (r12: sf0.1
    best 1.89 s vs 2.24-2.71 s on 32 cores, 2.2 vs 3.7 s on 8; sf1
    3.38 vs 7.18 s).

    One full-scan probe (``operators.gate.probe``: rows plus
    approximate distinct normalized texts) picks the path. On a
    duplicate-heavy corpus (``Probe.dup_heavy``) identical normalized
    texts collapse before any LSH work: signatures, banding and verify
    run once per distinct CONTENT, the id-sorted member arrays ride the
    banding shuffle, and verified group pairs expand back to member doc
    pairs map-side — still zero joins. Exact duplicates share every
    shingle, so they land in identical buckets and always verify at
    jaccard exactly 1.0 (the shingle set is never empty: short docs
    shingle to the whole text); collapsing them is
    semantics-preserving while cutting kernel, banding-shuffle and
    verify cost by the duplication factor (web-crawl corpora at real
    scale are commonly 30-60% exact dups; the adversarial 10-deep
    clique build measured ~26 s -> ~4 s at 50k docs). Groups key on
    the text itself, not a hash (no collision risk), and cap at 256
    id-sorted members, mirroring the per-bucket cap (an over-cap
    identical doc sits beyond the id-sorted cap prefix of EVERY one of
    its buckets); cross-group caps bind at group grain — 256 distinct
    CONTENTS per bucket instead of 256 docs — so dup-heavy corpora lose
    strictly fewer true pairs to capping. Low-dup corpora skip the
    prepass and keep the single-wide-shuffle plan. Tests force either
    path by patching ``gate.Probe.dup_heavy``.

    The same probe sizes the text: when it is at most
    ``gate.DRIVER_BYTES`` (``Probe.tiny``) the documents are fetched
    once and the operator runs on the driver
    (:func:`_driver_jaccard_pairs`) with the same kernel, bucket keys,
    caps and collapse, each distinct candidate pair verified once; its
    local relation rounds and thresholds in the JVM like the plan
    below. Tests force either path by patching ``gate.DRIVER_BYTES``.
    """
    # ONE full-scan probe feeds both gates: the collapse gate needs a
    # full map-side-combined aggregate anyway, so the exact row count
    # for the spread gate rides along (r12 measurement: a separate
    # bounded-count job was ~0.7 s of the ~2.7 s sf0.1 operator)
    size = gate.probe(df, (text_col,), distinct=F.xxhash64(_norm(F.col(text_col))))
    group_cap = 256 if size.dup_heavy else None
    if size.tiny:
        table = gate.fetch(_normed(df, id_col, text_col), ("__id", "__norm"), size)
        if table is not None:
            r = num_hashes // bands

            def features(norms):
                sets, sigs = _sig_and_shingles(norms, num_hashes, k)
                # one row per (doc, band): the band index and its
                # signature slice ARE the bucket (the distributed
                # plan's xxhash64 of the slice names the same bucket)
                rows = np.column_stack([
                    np.tile(np.arange(bands), len(sets)),
                    sigs[:, : bands * r].reshape(-1, r),
                ])
                _, key = np.unique(rows, axis=0, return_inverse=True)
                return sets, np.repeat(np.arange(len(sets)), bands), key.ravel()

            return _driver_jaccard_pairs(
                df.sparkSession, table, features, jaccard_threshold, 256, group_cap
            )
    df = gate.spread(df, size.rows)
    # normalize in its own projection (see _shingles_of_norm note)
    normed = _normed(df, id_col, text_col)
    keep, members_col = ["__id"], None
    if group_cap is not None:
        groups = _collapse_groups(normed, group_cap)
        within = _within_group_pairs(groups, group_cap)
        normed = groups.select(
            F.element_at("__members", 1).alias("__id"),
            F.col("__members").alias("__mem"),
            "__norm",
        )
        keep, members_col = ["__id", "__mem"], "__mem"
    # ONE Arrow kernel computes shingle hashes AND the signature (the
    # JVM HOF shingle stage was the operator's dominant cost); the sets
    # ship as packed int32 blobs (see _sig_and_shingles_udf pack_sh)
    feat = normed.select(
        *keep,
        _sig_and_shingles_udf(num_hashes, k, pack_sh=True)(
            F.col("__norm")
        ).alias("__f"),
    )
    banded_sets = feat.select(
        *keep,
        F.col("__f.sh").alias("__sh"),
        _band_keys(F.col("__f.sig"), bands, num_hashes // bands),
    ).select(*keep, "__sh", "bk.band", "bk.bhash")
    pairs = bucket_local_jaccard_pairs(
        banded_sets, jaccard_threshold, members_col=members_col
    )
    if members_col is None or jaccard_threshold > 1.0:
        return pairs
    return within.unionByName(pairs)


def _normed(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(__id, __norm) of the documents that have text: a NULL text has
    no shingles or grams, so it pairs with nothing. The filter tests the
    raw text (its norm is NULL exactly when it is), so it reaches the
    scan and the regex runs once a row, not again in a filter."""
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"), _norm(F.col(text_col)).alias("__norm")
    )


def _collapse_groups(normed: DataFrame, group_cap: int) -> DataFrame:
    """Group identical normalized texts: (__norm, __members) with the
    id-sorted member array capped at ``group_cap`` (the window's
    rank<=k rewrites to a map-side WindowGroupLimit, so even a corpus
    of one repeated text ships a bounded row count per partition).
    Keys on the text itself, not a hash — no collision risk."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("__norm").orderBy("__id")
    return (
        normed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= group_cap)
        .groupBy("__norm")
        .agg(F.array_sort(F.collect_list("__id")).alias("__members"))
    )


def _within_group_pairs(groups: DataFrame, group_cap: int) -> DataFrame:
    """All (id_a < id_b, 1.0) doc pairs inside each identical-content
    group: identical content has identical (never-empty) feature sets,
    so both verify families compute ROUND(s/s, 6) = exactly 1.0."""
    return (
        groups.where(F.size("__members") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("__members"),
                        lambda a, i: F.transform(
                            F.slice(F.col("__members"), i + 2, group_cap),
                            lambda b: F.struct(
                                a.alias("id_a"), b.alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", F.lit(1.0).alias("jaccard"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate clusters from near-dup pairs: connected components by
    iterative min-label propagation.

    Returns (doc_id, cluster_id) for every id appearing in a pair, with
    cluster_id = the smallest id in the component — the canonical
    "keep the lowest id, drop the rest" dedup decision.

    SIZE-GATED EXECUTION: :func:`gate.fetch` collects the edges as one
    Arrow table when they fit ``gate.BUDGET_BYTES`` (4M (long, long)
    edges at 64 MiB; the scan stops at the limit even when pairs is
    huge). Then
      * edges that fit: driver-side union-find with path compression
        (near-dup pair sets are tiny relative to their corpus; the
        distributed loop on a small graph is pure scheduler overhead —
        O(log d) sequential Spark jobs of near-empty stages).
      * larger: the distributed loop below, at the session's shuffle
        width. Each round combines neighbor-min propagation (one join
        + one groupBy, shuffles keyed by id, map-side combinable) with
        a POINTER-JUMPING step (label <- label[label], one self-join on
        the label frame), the doubling trick from PRAM/MapReduce CC
        (cf. Kiveris et al., "Connected Components in MapReduce and
        Beyond"): paths to the component min halve every round, so
        convergence is O(log diameter) rounds instead of O(diameter).
        The convergence check rides the same checkpointed frame as a
        `changed` flag column — no separate old-vs-new join job per
        round. At 100 TB the per-round shuffle is (ids + labels) only,
        never the documents.
    """
    table = gate.fetch(pairs, (id_a, id_b))
    if table is not None:
        import pyarrow as pa

        # the labels go to Spark as Arrow columns built straight from
        # the union-find arrays: no per-row Python objects
        id_type = table.schema.field(0).type
        ends = pa.chunked_array(table.column(0).chunks + table.column(1).chunks, id_type)
        nodes, idx = np.unique(ends.to_numpy(zero_copy_only=False), return_inverse=True)
        root = _union_find(idx[: table.num_rows], idx[table.num_rows:], len(nodes))
        # an Arrow-backed local relation carries its size, so a
        # consumer's join (semantic_dedup's keep flags) can broadcast it
        return pairs.sparkSession.createDataFrame(pa.table({
            "doc_id": pa.array(nodes, id_type),
            "cluster_id": pa.array(nodes[root], id_type),
        }))
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # scanned once per round — keep it materialized across iterations
    edges = edges.persist()
    try:
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
        )
        changed, labels = _cc_loop(edges, labels_init=labels, max_iter=max_iter)
    finally:
        edges.unpersist()
    if changed != 0:
        # silently returning non-minimal labels would yield multiple
        # "representatives" per true cluster downstream (semantic_dedup
        # keep flags) — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); the component diameter "
            "exceeds max_iter — pass a larger max_iter"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _union_find(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Driver-side CC for the small-graph gate over nodes 0..n-1 (the
    sorted distinct ids) and edges (a[i], b[i]): union-find with path
    compression, roots kept at the component minimum (when two roots
    merge, the larger attaches under the smaller, so every root is the
    min node of its set by induction). Returns each node's root, i.e.
    the index of its component's smallest id, matching the distributed
    loop's labels."""
    parent = list(range(n))

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            lo, hi = (rx, ry) if rx < ry else (ry, rx)
            parent[hi] = lo
    return np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)


def _cc_loop(edges, labels_init, max_iter: int) -> tuple:
    """Min-label propagation + pointer-jumping rounds; returns
    (changed, labels)."""
    labels = labels_init
    changed = -1
    for _ in range(max_iter):
        # each node adopts the min of its own and its neighbors' labels
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        prop = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.col("label").alias("old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jump: label <- label[label].  Labels are node ids, so
        # the parent's label is defined for every non-root; paths to the
        # component min halve each round (O(log d) total rounds).
        parents = prop.select(
            F.col("node").alias("__p"), F.col("label").alias("__plabel")
        )
        new_labels = (
            prop.join(parents, prop.label == parents.__p, "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("__plabel"), F.col("label")),
                ).alias("label"),
                (
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("__plabel"), F.col("label")),
                    )
                    != F.col("old")
                ).alias("__changed"),
            )
        )
        # localCheckpoint: materializes this round AND truncates the
        # logical plan.  persist() alone is not enough — `labels`
        # appears twice per round (neighbor_min + the join), so the
        # un-truncated plan doubles every iteration and a component of
        # diameter ~8 already OOMs the driver at PLANNING time.  The
        # convergence check is a flag-column count over the checkpointed
        # blocks — a shuffle-free scan, not another old-vs-new join job.
        # (On a multi-node cluster prefer sc.setCheckpointDir +
        # .checkpoint() for executor-loss resilience; localCheckpoint is
        # the local-mode equivalent.)
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.where(F.col("__changed")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return changed, labels


def _simhash_sig_udf():
    """Arrow-vectorized SimHash: array<long> token hashes -> bigint
    signature, bit i set where the tokens' votes on bit i sum above
    zero (``scripts/ref_kernels.py`` holds the pure-Python oracle). A
    pure-Column form unrolls 64 WHENs per token into an expression tree
    big enough to OOM a 1 GiB driver during planning when it appears in
    two plan branches; the UDF keeps the plan a single opaque node."""
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)

    @pandas_udf("bigint")
    def sig(th: pd.Series) -> pd.Series:
        out = np.zeros(len(th), dtype=np.int64)
        one = np.uint64(1)
        for idx, arr in enumerate(th):
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if h.size == 0:
                continue
            bits = ((h[:, None] >> shifts[None, :]) & one).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            sig_u = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            out[idx] = sig_u.astype(np.uint64).view(np.int64)
        return pd.Series(out)

    return sig


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs whose SimHash Hamming distance <= ``max_hamming``.

    Banding on 4 16-bit chunks: any pair within Hamming distance 3 must
    agree exactly on at least one chunk (pigeonhole), so the candidate
    join is equi-join-able and shuffle-partitioned by chunk value.
    """
    token_hashes = F.transform(
        F.array_distinct(F.split(F.col("__norm"), " ")), lambda t: F.xxhash64(t)
    )
    sig = (
        gate.spread(df, gate.probe(df, limit=gate.SMALL_ROWS).rows)
        .select(F.col(id_col).alias("__id"), _norm(F.col(text_col)).alias("__norm"))
        .select("__id", token_hashes.alias("__th"))
        .select("__id", _simhash_sig_udf()(F.col("__th")).alias("__sig"))
    )
    # the sig frame feeds BOTH the banding explode and the verify join;
    # a PythonUDF subtree defeats exchange reuse (expression ids), so
    # without this the Arrow kernel runs twice. Lazy localCheckpoint =
    # one kernel pass (same fix as minhash/ngram); 16 bytes/row, so the
    # checkpoint stays cheap at corpus scale.
    sig = sig.localCheckpoint(eager=False)
    banded = sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("__sig"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bhash"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("__id", "c.band", "c.bhash")
    cand = pairs_from_bucket_keys(banded)
    # long-format verify on the 8-byte signature (see minhash_lsh_pairs)
    long = cand.select("id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("__id"))
    both = (
        long.join(sig, "__id")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("__id") == F.col("id_a"), F.col("__sig"))).alias("sig_a"),
            F.max(F.when(F.col("__id") == F.col("id_b"), F.col("__sig"))).alias("sig_b"),
        )
    )
    ham = _popcount(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        both.select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def _popcount(c: Column) -> Column:
    return F.bit_count(c)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact word n-gram Jaccard similarity for pairs sharing at least
    one n-gram (inverted-index join — shuffle on n-gram hash).

    ``prefix_filter=True`` (default) indexes only each document's
    PREFIX grams — the first ``|g| - ceil(t*|g|) + 1`` grams under a
    global total order (the kernel's arrays are sorted-distinct int64
    hashes, so ascending hash IS a consistent global order at zero
    cost). Classic prefix-filtering lemma (Bayardo et al., "Scaling Up
    All Pairs Similarity Search", WWW'07; Xiao et al. PPJoin): if
    J(A,B) >= t and prefix(A) ∩ prefix(B) = ∅, every common gram would
    have to sit past both prefixes, bounding |A∩B| <= ceil(t*|A|)-1 <
    t*|A∪B| — contradiction. Candidates therefore remain a SUPERSET of
    all true pairs and the verified output is identical; only the
    posting-list explosion shrinks, from |g| rows/doc to
    (1-t)*|g|+1 rows/doc and candidate pairs by ~the square of that.
    This was the dominant stage of the cluster pipeline at sf10
    (500k docs): posting-list duplication is |grams| per doc, and the
    bucket-local minhash trick cannot transplant here (r10 verdict).

    For corpora where common n-grams still explode the index, raise
    ``n`` or pre-filter with :func:`minhash_lsh_pairs`; this operator
    is the exact verifier of the dedup family.

    On a duplicate-heavy corpus (``Probe.dup_heavy``, the same
    one-scan probe as :func:`minhash_lsh_pairs`) identical normalized
    texts collapse first: gram kernels, posting lists, and verification
    run once per distinct CONTENT, within-group pairs emit at exactly
    1.0 (gram sets are never empty — short docs gram to the whole
    text), and verified group pairs expand over the member arrays.
    Beyond the speedup, this REMOVES the documented exactness edge
    where 10-deep exact-dup cliques saturate cap-bound posting buckets:
    exact dups now occupy ONE posting each.

    Text of at most ``gate.DRIVER_BYTES`` runs on the driver instead,
    as :func:`minhash_lsh_pairs` does: the same gram kernel, prefix
    postings, caps and collapse over one fetch, and a local relation
    out.
    """
    # ONE full-scan probe feeds all three gates (driver path, spread,
    # collapse): the collapse gate is a full map-side-combined
    # aggregate anyway, so the row count and text bytes ride along
    # (guide §1.2)
    size = gate.probe(
        df, (text_col,), distinct=F.xxhash64(_norm(F.col(text_col)))
    )
    prefix = prefix_filter and 0.0 < threshold <= 1.0
    # prefix postings interact with the bucket cap: pre-filter, a pair
    # meeting in a cap-saturated stop-gram bucket could still be found
    # via a rarer shared gram; with only prefixes indexed those
    # alternative routes shrink, so the cap is DOUBLED — prefix postings
    # are ~(1-t) of full volume, so worst-case capped-bucket pair work
    # stays comparable while the cap binds strictly less often than the
    # full-posting 1024 did (r11 review finding). The r12 exact-dup
    # collapse removes the main natural saturator (deep identical-content
    # cliques — each content now posts ONCE); what remains cap-exposed
    # is 2048+ DISTINCT near-identical contents sharing a prefix gram.
    cap = 2048 if prefix else 1024
    if size.tiny:
        table = gate.fetch(_normed(df, id_col, text_col), ("__id", "__norm"), size)
        if table is not None:

            def features(norms):
                sets = _word_grams(norms, n)
                lens = np.fromiter((len(g) for g in sets), dtype=np.int64, count=len(sets))
                plen = lens
                if prefix:
                    # the plan's prefix length, in the same double arithmetic
                    plen = lens - np.ceil(float(threshold) * lens.astype(np.float64) - 1e-9).astype(np.int64) + 1
                index = [g[:p] for g, p in zip(sets, plen)]
                doc = np.repeat(np.arange(len(sets)), [len(g) for g in index])
                key = np.concatenate(index) if index else np.empty(0, dtype=np.int64)
                return sets, doc, key

            return _driver_jaccard_pairs(
                df.sparkSession, table, features, threshold, cap,
                cap if size.dup_heavy else None,
            )
    df = gate.spread(df, size.rows)
    # above the driver path, a corpus within SMALL_ROWS and the byte
    # budget still gets the single-pass plan with broadcast verify
    # (measured faster there than the corpus plan: SCALING.md "Driver
    # path crossover")
    small = size.small
    # gram hashes via the Arrow batch kernel (bit-identical to the
    # engine's xxhash64 over space-joined grams; the interpreted-HOF
    # per-gram string build it replaces was the operator's hottest
    # stage — see _word_grams)
    normed = _normed(df, id_col, text_col)
    members_map = None
    if size.dup_heavy:
        groups = _collapse_groups(normed, cap)
        within = _within_group_pairs(groups, cap)
        members_map = groups.select(
            F.element_at("__members", 1).alias("__rep"), "__members"
        )
        normed = groups.select(
            F.element_at("__members", 1).alias("__id"), "__norm"
        )
    docs = normed.select(
        "__id", _word_gram_hashes_udf(n)(F.col("__norm")).alias("__grams")
    )
    if small:
        # single gram-kernel pass: the inverted index and BOTH broadcast
        # verify sides read the checkpointed frame (the r11 plan ran the
        # Arrow kernel three times — ReuseExchange cannot deduplicate
        # PythonUDF subtrees). Bounded by the same small-corpus gate
        # that authorizes the broadcast verify; above it the long-format
        # verify keeps the two-pass lazy DAG (a corpus-scale checkpoint
        # would blow the storage budget).
        docs = docs.localCheckpoint(eager=False)
    # inverted index as bucket keys: every indexed gram is a bucket;
    # candidate generation (grouping, capping, pair expansion, dedup,
    # AQE-proof repartition) shared with the LSH family. Posting lists
    # of stop-gram-like n-grams are capped the same way degenerate LSH
    # buckets are (cap high enough that sf-scale corpora stay exact).
    if prefix:
        gsize = F.size("__grams")
        # the -1e-9 epsilon guards float-UP noise in t*|g| (a ceil one
        # too high would shorten the prefix below the lemma's bound and
        # silently drop true pairs; one too LONG merely indexes an
        # extra gram and stays exact)
        plen = (
            gsize
            - F.ceil(F.lit(float(threshold)) * gsize.cast("double") - F.lit(1e-9)).cast("int")
            + 1
        )
        index_grams = F.slice(F.col("__grams"), F.lit(1), plen)
    else:
        index_grams = F.col("__grams")
    banded = docs.select(
        "__id", F.lit(0).alias("band"), F.explode(index_grams).alias("bhash")
    )
    cand = pairs_from_bucket_keys(banded, bucket_cap=cap)
    if small:
        # the checkpointed gram frame above feeds the index and both
        # broadcast verify sides — one kernel pass total
        feats = docs
    else:
        # corpus-scale path (r13): the verify's feature side used to
        # re-run the gram kernel over the ENTIRE corpus — PythonUDF
        # canonicalization defeats subtree reuse, so the plan carried
        # two full-corpus ArrowEvalPython passes (measured: the kernel
        # pass IS the operator at sf10 — ~7 s of its ~14 s steady
        # state, twice). Checkpoint the CANDIDATE PAIRS instead — tiny
        # (id, id) rows, already bounded by the bucket caps and
        # already carried by the dedup shuffle, so unlike a
        # corpus-scale gram-array checkpoint this stays within the
        # storage budget at any corpus size — and, when the candidate
        # id set is provably broadcastable, semi-join it into the
        # verify side BEFORE the gram kernel (guide §3.2's
        # broadcast-semi-join stand-in for a Bloom filter): the second
        # kernel pass then grams only docs that actually appear in a
        # candidate pair. Pruning cannot change results — the verify
        # join is inner on __id, so non-candidate docs never
        # contribute. Over the byte budget the prune is skipped (an
        # unconditional broadcast would be the scale hazard) and the
        # checkpoint alone keeps the candidate pipeline single-pass.
        cand = cand.localCheckpoint(eager=False)
        cand_ids = cand.select(
            F.explode(F.array("id_a", "id_b")).alias("__id")
        ).distinct()
        feats_src = normed
        if gate.probe(cand_ids, ("__id",)).fits:
            feats_src = normed.join(F.broadcast(cand_ids), "__id", "left_semi")
        feats = feats_src.select(
            "__id", _word_gram_hashes_udf(n)(F.col("__norm")).alias("__grams")
        )
    # exact verify; no signature-estimate pre-filter: the estimate
    # costs about as much as the native array_intersect it would guard,
    # and its separate join stage measured +30s of per-plan codegen/JIT
    # overhead while pruning <1% on template-heavy corpora
    sides = pair_sides(cand, feats, ("__grams",), broadcast=small)
    ga, gb = F.col("__grams_a"), F.col("__grams_b")
    # |A ∪ B| = |A| + |B| - |A ∩ B|: the kernel's gram sets are
    # np.unique'd per doc, so the identity is exact in integers and
    # ROUND(c/u, 6) is bit-identical to the array_union form — with one
    # hash-set build per pair instead of two
    inter = F.size(F.array_intersect(ga, gb))
    jaccard = inter.cast("double") / (
        (F.size(ga) + F.size(gb) - inter).cast("double")
    )
    verified = sides.select(
        "id_a", "id_b", F.round(jaccard, 6).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)
    if members_map is None:
        return verified
    # expand verified GROUP pairs over the member arrays; the group
    # frame broadcasts when the corpus is small, else AQE picks the
    # join strategy for the (tiny survivors) x (one-row-per-content)
    # join
    ma = members_map.select(
        F.col("__rep").alias("id_a"), F.col("__members").alias("__ma")
    )
    mb = members_map.select(
        F.col("__rep").alias("id_b"), F.col("__members").alias("__mb")
    )
    if small:
        ma, mb = F.broadcast(ma), F.broadcast(mb)
    cross = _expand_member_pairs(verified.join(ma, "id_a").join(mb, "id_b"))
    if threshold > 1.0:
        return cross
    return within.unionByName(cross)
