"""The dedup operators' driver path: tiny inputs (``gate.Probe.tiny``)
are fetched once and run through the same numpy kernels on the driver.

Each operator is forced down both paths by patching
``gate.DRIVER_BYTES`` and must return the same rows, on corpora that
stress the candidate caps, the exact-duplicate collapse, NULL and empty
text and string ids. The driver plan is one local relation.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from sidemantic_spark.operators import dedup, gate, pipeline, similarity


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _both_paths(monkeypatch, build):
    """Rows of ``build()`` on the driver path and on the Spark plan."""
    rows = {}
    for path, bound in (("driver", 1 << 40), ("spark", 0)):
        monkeypatch.setattr(gate, "DRIVER_BYTES", bound)
        df = build()
        plan = _plan(df)
        local = "Exchange" not in plan and "ArrowEvalPython" not in plan
        assert local == (path == "driver"), (path, plan)
        rows[path] = sorted(map(tuple, df.collect()))
    return rows


def _words(rng, vocab, lo, hi):
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


def _planted(spark, string_ids=False):
    """1,000 docs: 50 planted groups of a base text, its upper-case copy
    and a one-word near copy; ids are a seeded permutation."""
    rng = random.Random(101)
    vocab = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
             for _ in range(2000)]
    texts = []
    for _ in range(50):
        base = _words(rng, vocab, 60, 120).split()
        near = list(base)
        near[rng.randrange(len(near))] = rng.choice(vocab)
        texts += [" ".join(base), " ".join(base).upper(), " ".join(near)]
    texts += [_words(rng, vocab, 60, 120) for _ in range(1000 - len(texts))]
    ids = list(range(1000))
    rng.shuffle(ids)
    rows = [(f"d{i:05d}" if string_ids else i, t) for i, t in zip(ids, texts)]
    return spark.createDataFrame(rows, f"doc_id {'string' if string_ids else 'long'}, text string")


def _clique(spark):
    """300 copies of one text (beyond the 256 caps), 20 one-word variants
    of it and 30 unrelated docs, ids interleaved."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    base = _words(rng, vocab, 30, 30).split()
    texts = [" ".join(base)] * 300
    for _ in range(20):
        near = list(base)
        near[rng.randrange(len(near))] = rng.choice(vocab)
        texts.append(" ".join(near))
    texts += [_words(rng, vocab, 20, 40) for _ in range(30)]
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    return spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")


def _templates(spark):
    """400 short docs from 20 templates: every doc near-duplicates many."""
    return spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("the product page for item"), (F.col("id") % 20).cast("string"),
            F.lit("lists the price of order"), (F.col("id") % 100).cast("string"),
        ).alias("text"),
    )


def _empty_and_null(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, None), (3, ""), (4, "   "), (5, None),
        (6, "The  quick brown fox jumps over the lazy dog"),
        (7, "tiny"), (8, "tiny"), (9, ""),
        (10, "the quick brown fox jumps over the lazy cat"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


CORPORA = {
    "planted": _planted,
    "string_ids": lambda spark: _planted(spark, string_ids=True),
    "clique": _clique,
    "templates": _templates,
    "empty_and_null": _empty_and_null,
}

TEXT_OPS = {
    "minhash": lambda df: dedup.minhash_lsh_pairs(df, jaccard_threshold=0.4),
    "ngram": lambda df: dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5),
    "ngram_full_postings": lambda df: dedup.ngram_jaccard_pairs(
        df, n=5, threshold=0.6, prefix_filter=False),
    "decontaminate": lambda df: pipeline.decontaminate(
        df, df.where(F.col("doc_id").cast("string") < F.lit("3")), n=4),
    # an eval set needs only its text: no id column on either path
    "decontaminate_eval_text_only": lambda df: pipeline.decontaminate(
        df, df.where(F.col("doc_id").cast("string") < F.lit("3")).select("text"), n=4),
}


@pytest.mark.parametrize("op,corpus", [(o, c) for o in sorted(TEXT_OPS) for c in sorted(CORPORA)])
def test_text_operators_row_identity(spark, monkeypatch, op, corpus):
    df = CORPORA[corpus](spark).localCheckpoint()
    dup_heavy = (
        (None, True, False) if corpus == "clique" and not op.startswith("decontaminate") else (None,)
    )
    for flag in dup_heavy:
        if flag is not None:
            # both the collapse and the uncollapsed caps must bind alike
            monkeypatch.setattr(gate.Probe, "dup_heavy", property(lambda p, f=flag: f))
        rows = _both_paths(monkeypatch, lambda: TEXT_OPS[op](df))
        assert rows["driver"] == rows["spark"], (corpus, op, flag)
    if corpus in ("planted", "clique", "templates"):
        assert rows["driver"], (corpus, op)


def test_minhash_caps_bind_in_a_300_copy_clique(spark, monkeypatch):
    """The caps bind on a 300-copy clique: with the collapse only the
    256 lowest ids of the copies pair, without it each bucket keeps its
    256 lowest ids; both paths drop the same members."""
    df = _clique(spark).localCheckpoint()
    for flag in (True, False):
        monkeypatch.setattr(gate.Probe, "dup_heavy", property(lambda p, f=flag: f))
        rows = _both_paths(monkeypatch, lambda: dedup.minhash_lsh_pairs(df, jaccard_threshold=0.4))
        assert rows["driver"] == rows["spark"], flag
        ones = sum(j == 1.0 for _, _, j in rows["driver"])
        if flag:
            assert ones == 256 * 255 // 2  # the group cap
        else:
            assert 0 < ones < 300 * 299 // 2  # the bucket caps


def test_ngram_caps_bind_in_a_2100_copy_clique(spark, monkeypatch):
    """2,100 copies of one one-gram text bind ngram's 2,048 caps: the
    posting list without the collapse, the content group with it. Both
    paths keep the 2,048 lowest ids; ~2.1M pairs, so rows compare by
    count, largest id and an order-free hash sum taken in Spark."""
    df = spark.range(2100).select(
        F.col("id").alias("doc_id"), F.lit("one two three").alias("text")
    ).localCheckpoint()
    row_hash = F.pmod(F.xxhash64("id_a", "id_b", "jaccard"), F.lit(dedup._P))
    for flag in (True, False):
        monkeypatch.setattr(gate.Probe, "dup_heavy", property(lambda p, f=flag: f))
        got = {}
        for path, bound in (("driver", 1 << 40), ("spark", 0)):
            monkeypatch.setattr(gate, "DRIVER_BYTES", bound)
            out = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.8)
            assert ("Exchange" not in _plan(out)) == (path == "driver"), path
            got[path] = tuple(out.agg(F.count(F.lit(1)), F.max("id_b"), F.sum(row_hash)).first())
        assert got["driver"] == got["spark"], flag
        assert got["driver"][:2] == (2048 * 2047 // 2, 2047), flag


def _vectors(spark, kind):
    rng = np.random.default_rng(11)
    dim = 128 if kind == "dim128" else 64
    v = rng.standard_normal((300, dim))
    if kind == "clique":
        v[:300] = v[0]
        v = np.vstack([v, rng.standard_normal((20, dim))])
    else:
        # a tenth are small perturbations of others
        v[270:] = v[:30] + 0.05 * rng.standard_normal((30, dim))
    if kind == "near_zero":
        v = v * 1e-20
    elif kind == "large":
        v = v * 1e18
    v = v.astype(np.float32)
    ids = [f"v{i:04d}" if kind == "string_ids" else i for i in range(len(v))]
    id_type = "string" if kind == "string_ids" else "long"
    return (
        spark.createDataFrame(
            [(i, x.tolist()) for i, x in zip(ids, v)], f"vec_id {id_type}, embedding array<float>"
        ).localCheckpoint(),
        dim,
    )


@pytest.mark.parametrize("kind", ["planted", "clique", "string_ids", "near_zero", "large", "dim128"])
def test_embedding_near_dup_pairs_row_identity(spark, monkeypatch, kind):
    vecs, dim = _vectors(spark, kind)
    kw = dict(min_cosine=0.9, dim=dim)
    rows = _both_paths(monkeypatch, lambda: similarity.embedding_near_dup_pairs(vecs, **kw))
    assert rows["driver"] == rows["spark"] and rows["driver"], kind
    # semantic_dedup composes the pairs with connected_components
    out = {}
    for path, bound in (("driver", 1 << 40), ("spark", 0)):
        monkeypatch.setattr(gate, "DRIVER_BYTES", bound)
        out[path] = sorted(map(tuple, similarity.semantic_dedup(vecs, **kw).collect()))
    assert out["driver"] == out["spark"], kind


def test_fold_dot_is_bit_identical_to_the_jvm_fold(spark):
    """The driver's cosine parts (``_fold_dot``) against the engine's
    ``_dot``/``_norm`` folds on adversarial vectors: near-zero values,
    large magnitudes, cancelling signs, 128 dimensions. Every double
    must be equal, not close."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 64))
    cases = {
        "near_zero": base * 1e-20,
        "large": base * 1e18,
        "cancelling": np.hstack([base[:, :32], -base[:, :32] * (1 + 1e-7)]),
        "dim128": rng.standard_normal((40, 128)),
    }
    for name, X in cases.items():
        X = X.astype(np.float32)
        Y = np.roll(X, 1, axis=0)
        df = spark.createDataFrame(
            [(i, X[i].tolist(), Y[i].tolist()) for i in range(len(X))],
            "i int, a array<float>, b array<float>",
        )
        a = F.transform("a", lambda x: x.cast("double"))
        b = F.transform("b", lambda x: x.cast("double"))
        got = sorted(
            df.select("i", similarity._dot(a, b), similarity._norm(a)).collect()
        )
        Xd, Yd = X.astype(np.float64), Y.astype(np.float64)
        assert [r[1] for r in got] == similarity._fold_dot(Xd, Yd).tolist(), name
        assert [r[2] for r in got] == np.sqrt(similarity._fold_dot(Xd, Xd)).tolist(), name


def test_duplicate_vector_ids_fail_loudly(spark):
    """The driver path has every id in hand: a repeated id (which the
    Spark plan's two pair_sides forms would answer differently) raises
    naming the column and the id."""
    vecs = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [1.0] * 64), (2, [0.5] * 64), (3, [0.0] * 63 + [1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match=r"unique vec_id; 2 appears more than once"):
        similarity.embedding_near_dup_pairs(vecs, min_cosine=0.5)
    with pytest.raises(ValueError, match=r"unique vec_id; 2 appears more than once"):
        similarity.semantic_dedup(vecs, min_cosine=0.5)


def test_over_budget_text_takes_the_spark_plan_without_a_fetch(spark, monkeypatch):
    """Text is fetched only behind the probe that sized it: under a
    budget the text exceeds, no operator calls ``gate.fetch`` and the
    Spark plan returns the same rows."""
    df = _templates(spark).localCheckpoint()
    want = {op: sorted(map(tuple, fn(df).collect())) for op, fn in TEXT_OPS.items()}

    def no_fetch(*a, **kw):
        raise AssertionError("over-budget text must not be fetched")

    monkeypatch.setattr(gate, "BUDGET_BYTES", 1000)
    monkeypatch.setattr(gate, "fetch", no_fetch)
    for op, fn in TEXT_OPS.items():
        out = fn(df)
        assert "ArrowEvalPython" in _plan(out), op
        assert sorted(map(tuple, out.collect())) == want[op], op


def test_fetch_sizes_strings_before_collecting(spark, monkeypatch):
    """Without a probe, string columns are probed first: 100 rows of
    200-byte strings are over a 10 kB budget, so nothing is collected."""
    df = spark.range(100).select(F.lpad(F.col("id").cast("string"), 200, "x").alias("s"))
    collected = []
    real = type(df).toArrow

    def spy(self):
        collected.append(1)
        return real(self)

    monkeypatch.setattr(type(df), "toArrow", spy)
    monkeypatch.setattr(gate, "BUDGET_BYTES", 10_000)
    assert gate.fetch(df, ("s",)) is None and not collected
    monkeypatch.setattr(gate, "BUDGET_BYTES", 100_000)
    assert gate.fetch(df, ("s",)).num_rows == 100 and collected
