"""Training-data pipeline operators: sequence packing, stratified
sampling, benchmark decontamination.

These extend the reference's surface (which has no data-processing
operators — it is a semantic-layer compiler) with the corpus-prep
stages a large-scale LLM training pipeline runs over 100 TB of text,
each designed Spark-first:

- ``sequence_pack``: GPT-style concat-and-chunk packing — documents are
  laid out in a deterministic global order and split into fixed
  ``capacity``-token windows. The global token offset is a distributed
  prefix sum: per-shard partial sums (one tiny aggregate), shard base
  offsets via a window over the (tiny) shard totals, then one
  broadcast-joined map stage. No global single-partition window ever
  sees the full corpus — the only ORDER BY over all rows lives in the
  per-shard window, partitioned by shard.
- ``stratified_sample``: deterministic per-stratum rate sampling keyed
  on md5(id) — reproducible across runs, engines, and cluster sizes
  (no RNG state), one filter stage, no shuffle.
- ``decontaminate``: flags training documents sharing any word n-gram
  with an eval/benchmark corpus — inverted-index semi-join on the gram
  hash, shuffling only (gram_hash, id) pairs, never the documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sequence_pack(
    df: DataFrame,
    capacity: int = 2048,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_shards: int = 256,
) -> DataFrame:
    """Assign every document a pack id under concat-and-chunk packing.

    Documents are ordered by (shard, id) with ``shard = id mod
    n_shards`` and conceptually concatenated; the token stream is cut
    into consecutive ``capacity``-token sequences. Returns
    ``(id, pack_id, start_offset, n_tokens, straddles)`` where
    ``pack_id = start_offset div capacity`` and ``straddles`` marks
    documents crossing a pack boundary (a real packer would either
    split these across sequences or re-slot them; the assignment is the
    distributed part).

    Scale: the prefix sum is two-level — a per-shard cumulative window
    (each shard's rows sort locally) plus a base-offset table of
    ``n_shards`` rows joined back (broadcast). Equivalent to one global
    ``SUM() OVER (ORDER BY shard, id)`` but with no single-partition
    stage over the corpus.
    """
    from pyspark.sql import Window

    shard = F.pmod(F.col(id_col), F.lit(n_shards)).alias("__shard")
    base = df.select(F.col(id_col), F.col(token_col).cast("long").alias("__t"), shard)
    # per-shard running total (exclusive): rows sort only within a shard
    w = (
        Window.partitionBy("__shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = base.withColumn("__local_off", F.coalesce(F.sum("__t").over(w), F.lit(0)))
    # shard base offsets: n_shards rows, window over a tiny frame
    totals = base.groupBy("__shard").agg(F.sum("__t").alias("__tot"))
    wsh = Window.orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    bases = totals.withColumn("__base", F.coalesce(F.sum("__tot").over(wsh), F.lit(0))).select(
        "__shard", "__base"
    )
    packed = local.join(F.broadcast(bases), "__shard").withColumn(
        "__start", F.col("__base") + F.col("__local_off")
    )
    # integer division (`div`) keeps offsets exact at any corpus size —
    # double division would round above 2^53 tokens
    return packed.select(
        F.col(id_col),
        F.expr(f"__start div {capacity}").alias("pack_id"),
        F.col("__start").alias("start_offset"),
        F.col("__t").alias("n_tokens"),
        F.expr(
            f"(__start div {capacity}) != ((__start + __t - 1) div {capacity})"
        ).alias("straddles"),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified downsampling: keep a row iff the first
    8 hex chars of ``md5(id)`` fall below the stratum's rate threshold.

    md5 is uniform on the id space, so the kept fraction converges to
    the rate per stratum; the decision depends only on the id — stable
    under re-runs, repartitioning, and incremental arrivals (a document
    never flips in or out when the corpus grows). Engine-portable (md5
    is bit-identical everywhere), unlike RNG-based ``df.sample``.
    """
    key = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    thresholds = [
        (stratum, format(int(rate * 0xFFFFFFFF), "08x"))
        for stratum, rate in rates.items()
    ]
    thr = F.lit(format(int(default_rate * 0xFFFFFFFF), "08x"))
    for stratum, hex_thr in thresholds:
        thr = F.when(F.col(strata_col) == stratum, F.lit(hex_thr)).otherwise(thr)
    return df.where(key < thr)


def domain_mix_plan(
    df: DataFrame,
    target: dict[str, float],
    source_col: str = "source",
) -> DataFrame:
    """Per-source acceptance rates that reshape the corpus to a target
    domain mix without upsampling.

    For target share ``t_s`` and observed count ``n_s``, the largest
    achievable output size keeping every source at-or-below its data is
    ``scale = min_s(n_s / t_s)``; each source then keeps
    ``rate_s = t_s * scale / n_s`` of its rows (the binding source keeps
    everything).  Returns one row per source: ``(source, n_docs,
    target_share, accept_rate, expected_out)``.

    One groupBy shuffle at source cardinality plus a broadcast of the
    single-row scale — the corpus itself never moves.  Feed the rates to
    :func:`stratified_sample` (md5-keyed) for the deterministic
    row-level keep/drop pass.  All arithmetic is plain double division
    on exact counts, so the plan is engine-portable for oracle checks.
    """
    tgt = F.lit(None).cast("double")
    for s, share in sorted(target.items()):
        tgt = F.when(F.col("source") == s, F.lit(float(share))).otherwise(tgt)
    per = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("target_share", tgt)
        .where(F.col("target_share").isNotNull())
    )
    scale = per.groupBy().agg(
        F.min(F.col("n_docs") / F.col("target_share")).alias("__scale")
    )
    return (
        per.crossJoin(F.broadcast(scale))
        .select(
            "source",
            "n_docs",
            "target_share",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("target_share") * F.col("__scale") / F.col("n_docs"),
                ),
                6,
            ).alias("accept_rate"),
            F.round(F.col("target_share") * F.col("__scale"), 2).alias(
                "expected_out"
            ),
        )
    )


def sample_thresholds_sql(
    rates: dict[str, float], strata_col: str = "lang", default_rate: float = 0.0
) -> str:
    """The CASE expression mirroring :func:`stratified_sample`'s
    threshold choice — shared with SQL oracles so both engines compare
    the identical hex literals."""
    branches = "".join(
        f"WHEN {strata_col} = '{s}' THEN '{format(int(r * 0xFFFFFFFF), '08x')}' "
        for s, r in rates.items()
    )
    return f"CASE {branches}ELSE '{format(int(default_rate * 0xFFFFFFFF), '08x')}' END"


def _word_gram_hashes(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, gram_hash) long-format word n-grams of the normalized text.
    Documents shorter than ``n`` words contribute their whole text as
    one gram (mirrors the dedup family's degenerate-input rule).

    Hashing runs through the dedup family's Arrow batch kernel —
    bit-identical values to the previous interpreted
    ``xxhash64(concat_ws(' ', slice(...)))`` formulation, measured
    ~3.5x faster (see dedup._word_gram_hashes_udf)."""
    from sidemantic_spark.operators.dedup import _normed, _word_gram_hashes_udf

    return _normed(df, id_col, text_col).select(
        "__id", F.explode(_word_gram_hashes_udf(n)(F.col("__norm"))).alias("__gram")
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
) -> DataFrame:
    """C4-style duplicate-span removal: split every document into
    fixed-width word spans, drop every span that already occurred
    anywhere in the corpus (first occurrence by (doc_id, span index)
    wins), and reassemble the surviving spans per document.

    This is the corpus-level "discard repeated three-sentence spans"
    rule of C4 (Raffel et al. 2020, §2.2) with a fixed word-window
    splitter — the reference corpus has no sentence boundaries, and the
    distributed shape is identical for any splitter.

    Plan shape (2 shuffles, text rides each exactly once):
      1. spans are built in-task from the split word array (array HOFs,
         no Python) and posexploded;
      2. global first-occurrence ranking is ONE sort-shuffle:
         ``row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id,
         span_idx)`` — partitioning on the 32-char digest, not the
         span text, keeps hash distribution uniform even for skewed
         boilerplate spans;
      3. reassembly is one groupBy(doc_id) collecting the kept spans in
         span order.
    Every document survives (possibly with empty text), so the output
    cardinality equals the input's — the op composes with downstream
    filters instead of silently dropping rows.

    Returns (id_col, text_clean, n_spans, n_kept).
    """
    from pyspark.sql import Window

    t = F.trim(F.col(text_col))
    words = F.split(t, r"\s+")
    n_spans = F.greatest(
        F.ceil(F.size(words) / F.lit(float(span_words))).cast("int"), F.lit(1)
    )
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * span_words + 1, span_words)
        ),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(spans).alias("span_idx", "span")
    )
    first_wins = Window.partitionBy(F.md5("span")).orderBy(
        F.col(id_col), F.col("span_idx")
    )
    ranked = exploded.withColumn("rn", F.row_number().over(first_wins))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("span_idx"), F.col("span"))
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["span"]
                ),
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        )
    )


def chunk_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 500,
    overlap: int = 50,
) -> DataFrame:
    """Fixed-size overlapping character chunks — embedding/RAG prep.

    Pure ``sequence`` + ``substring`` + ``posexplode``: a map-only
    generator stage in whole-stage codegen, zero shuffle, linear in
    corpus bytes at any scale. Chunk ``i`` covers
    ``[i*(size-overlap), i*(size-overlap)+size)``; the last chunk may
    be short, and every doc yields at least one chunk (empty text
    included, as one empty chunk). Adds ``chunk_idx`` (0-based) and
    ``chunk_text``.
    """
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    stride = size - overlap
    n_chunks = F.greatest(
        (F.ceil((F.length(F.col(text_col)) - F.lit(overlap)) / F.lit(stride))).cast("int"),
        F.lit(1),
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        starts, lambda i: F.col(text_col).substr(i * stride + 1, F.lit(size))
    )
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    )


def shuffle_shards(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    seed: str = "seed0",
    n_shards: int = 16,
) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the final step
    of a training-corpus pipeline (write N shuffled shards).

    The shuffle key is ``md5(seed || ':' || id)``: no RNG state, so the
    assignment is reproducible across runs/engines/cluster sizes and a
    new seed is a full independent reshuffle. ``shard`` is a map-only
    projection (uniform by construction — md5 prefix mod n); ``pos``
    (the within-shard write order) costs exactly one shuffle keyed on
    shard with a per-shard sort — the same cost any sharded writer
    pays. No global single-partition ordering stage anywhere: at
    100 TB, pick ``n_shards`` >= cluster parallelism and each task
    sorts one shard. Adds ``shard`` and ``pos`` (0-based).
    """
    from pyspark.sql import Window

    key = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    key_int = F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
    w = Window.partitionBy("shard").orderBy("__key", id_col)
    return (
        df.withColumn("__key", key)
        .withColumn("shard", (key_int % F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w) - F.lit(1))
        .drop("__key")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: ``(doc_id, shared_grams)`` for every
    training document sharing at least one word ``n``-gram with the
    eval corpus.

    Plan shape: both sides explode to (id, gram_hash); the eval side
    reduces to DISTINCT gram hashes (eval sets are small — benchmark
    suites, not corpora — so this side broadcasts or AQE converts it);
    one join keyed on the 8-byte hash counts shared grams per training
    doc. The documents themselves never shuffle, only (id, hash) pairs.
    Filtering the clean set is then a cheap ``left_anti`` join against
    this frame.

    NOTE (r13 study, do not re-spend): spreading the train side to
    cluster parallelism before the gram kernel (the dedup family's
    ``_spread``, and a zero-job ``getNumPartitions`` variant) was
    measured interleaved at bench shape and REJECTED — the single-task
    kernel stage this fixes costs ~0.25 s, but the probe job / raw-text
    shuffle it adds costs the same or more (probe-gated: median 0.961
    vs 1.037 s against it; partition-gated: 0.982 vs 0.958, a wash).
    This kernel is ~25x lighter per doc than minhash's, where the same
    spread measurably wins.

    One bounded probe sizes both sides' rows (text, id and flag); at
    most ``gate.DRIVER_BYTES`` of them is fetched in one job and counted
    on the driver with the same gram kernel (a local relation out).
    Documents with NULL text share no gram.
    """
    from sidemantic_spark.operators import gate
    from sidemantic_spark.operators.dedup import _normed

    # a fetched row is its text plus an id and a flag: the scan stops
    # at the rows whose fixed part alone is past Probe.tiny's bound,
    # not at the byte budget's row bound (64M rows of text)
    row_bytes = gate.fixed_width(train, id_col) + 1
    size = gate.probe(
        train.select(F.col(text_col).alias("__t")).unionByName(
            eval_df.select(F.col(text_col).alias("__t"))
        ),
        ("__t",),
        row_bytes=row_bytes,
        limit=min(gate.DRIVER_BYTES, gate.BUDGET_BYTES) // row_bytes,
    )
    # eval rows carry a NULL id of the train id's type on both paths:
    # eval_df needs only text_col
    eval_rows = eval_df.select(F.lit(None).cast(train.schema[id_col].dataType).alias(id_col), text_col)
    if size.tiny:
        both = _normed(train, id_col, text_col).withColumn("__train", F.lit(True)).unionByName(
            _normed(eval_rows, id_col, text_col).withColumn("__train", F.lit(False))
        )
        table = gate.fetch(both, ("__id", "__norm", "__train"), size)
        if table is not None:
            return _decontaminate_driver(train.sparkSession, table, id_col, n)
    train_grams = _word_gram_hashes(train, text_col, id_col, n)
    eval_grams = (
        _word_gram_hashes(eval_rows, text_col, id_col, n)
        .select("__gram")
        .distinct()
    )
    return (
        train_grams.join(eval_grams, "__gram")
        # plain count, not countDistinct: the gram kernel emits
        # np.unique'd hashes per document and the eval side is DISTINCT,
        # so (__id, __gram) rows are already unique after the join —
        # countDistinct planned an extra (id, gram)-keyed exchange plus
        # two hash-aggregate levels for a dedup that can never fire
        # (r12: 4 exchanges -> 3 in the bench plan)
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .select(F.col("__id").alias(id_col), "shared_grams")
    )


def _decontaminate_driver(spark, table, id_col: str, n: int) -> DataFrame:
    """:func:`decontaminate` on a fetched (__id, __norm, __train)
    table: the same gram kernel, each training document's grams counted
    against the distinct eval grams, summed per id as the plan's
    groupBy does."""
    import numpy as np
    import pyarrow as pa

    from sidemantic_spark.operators.dedup import _word_grams

    is_train = table.column("__train").to_numpy(zero_copy_only=False).astype(bool)
    grams = _word_grams(table.column("__norm").to_numpy(zero_copy_only=False), n)
    lens = np.fromiter((len(g) for g in grams), dtype=np.int64, count=len(grams))
    flat = np.concatenate(grams) if grams else np.empty(0, dtype=np.int64)
    owner = np.repeat(np.arange(len(grams)), lens)
    hit = np.isin(flat, np.unique(flat[~is_train[owner]]))
    shared = np.bincount(owner[hit], minlength=len(grams))
    rows = np.flatnonzero(is_train & (shared > 0))
    out = pa.table({
        "__id": table.column("__id").take(pa.array(rows, pa.int64())),
        "shared_grams": pa.array(shared[rows], pa.int64()),
    }).group_by("__id").aggregate([("shared_grams", "sum")])
    return spark.createDataFrame(out).select(
        F.col("__id").alias(id_col), F.col("shared_grams_sum").alias("shared_grams")
    )
