"""sf0.1 -> sf1 scaling checkpoint for the heaviest operators
(VERDICT r7 ask #5).

No sf1 parquet ships in /root/testdata, so this script synthesizes one
from sf0.1 by DECORRELATED 10x replication — built so each operator's
workload SHAPE scales instead of degenerating:

- documents: per replica r, letters and digits Caesar-shift by r — a
  bijection on the alphabet, so every within-replica CHARACTER-shingle
  and word-n-gram Jaccard relationship is preserved EXACTLY while
  cross-replica shingle sets are (near-)disjoint (a naive 10x copy —
  or a word-suffix scheme, which leaves intra-word char shingles
  shared — would create 10-deep duplicate cliques, the known
  pathological minhash shape). Duplicate DENSITY stays at the sf0.1
  rate; duplicate COUNT scales 10x.
- embeddings: per replica r, dimensions are rotated by r positions
  (np.roll as slice||slice) — cosine within a replica is invariant
  under the shared permutation, cross-replica cosine of a vector vs its
  rotated copy is ~random, so the near-dup graph scales instead of
  densifying.
- TPC-H facts/dims (orders, lineitem, customer, supplier, part,
  events): join keys shift by r * 10^9 per replica, so referential
  integrity and per-key fan-out are preserved exactly; region/nation
  stay fixed (25 nations at every scale, like TPC-H itself).

Usage:
    python scripts/scale_check.py [--rebuild] [--repeats N] [--heavy-repeats N]
    python scripts/scale_check.py --crossover [--repeats N]

``--crossover`` runs only the driver-path crossover tier (see
:func:`crossover`): the four operators with a driver path, each forced
down both paths by patching ``gate.DRIVER_BYTES``, over growing slices
of sf0.1 and sf1 plus a template-heavy corpus. It is the measurement
behind ``gate.DRIVER_BYTES`` (SCALING.md "Driver path crossover").

Prints one JSON line with per-operator sf0.1/sf1 wall times and the
wall-time ratio per 10x rows; paste the table into SCALING.md.

Statistics (r11 VERDICT ask #2): every tier reports the MEDIAN of
``--repeats`` runs (default 5; the sf10/adversarial heavy tiers use
``--heavy-repeats``, default 3, each run being 10-80 s) plus the full
repeat list and ``rel_spread`` = (max-min)/median, so round-over-round
ratio movements can be judged against the measured noise instead of
guessed. Decade ratios carry ``ratio_spread_bound`` = the sum of the
two tiers' rel_spreads (a first-order bound on the ratio's own noise).
Rounds before r12 recorded min-of-2; medians read slightly higher and
are far more stable.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPLICAS = 10
STRIDE = 10**9
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_synth_sf1"
)

# the six heaviest operators (VERDICT r7 plan audit)
OPS = [
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_ngram_jaccard",
    "sim_semantic_dedup",
    "pipeline_decontaminate",
    "fanout_dedup",
    # round-8 operators (VERDICT r8 ask #4): the indexed-BM25 claim
    # (vocabulary-sized index, term-pruned scan) should show a
    # near-flat ratio; sessionization is one exchange on user_id;
    # chunking is map-only
    "text_bm25_topk",
    "text_bm25_indexed",
    "events_sessionize",
    "sim_ann_quantized_topk",
    "pipeline_chunk_docs",
    # r11 VERDICT optional ask #7: one streaming row — the tumbling
    # windowed aggregation replayed availableNow to completion, so its
    # wall time IS the stream's end-to-end throughput at each tier
    # (state store + watermark machinery included)
    "streaming_window_agg",
]

# adversarial duplicate-density run (VERDICT r8 ask #5): replicas keep
# IDENTICAL text/embeddings (only keys shift), creating 10-deep exact
# near-dup cliques — the pathological shape for LSH pair expansion.
# The bucket cap (pairs_from_bucket_keys bucket_cap=256) must bound
# the emitted pairs, so wall time should stay within ~the benign sf1
# run even though duplicate density is 10x worse.
#
# CANONICAL PIN (VERDICT r10 ask #4): this exact configuration —
# sf1 rows (10x sf0.1), 10-deep identical-replica cliques, compared
# against the SAME round's benign sf1 wall time — is the one
# adversarial number recorded round-over-round. Ceiling: the
# adv_over_benign ratio must stay <= ADV_CEILING; the JSON carries
# config + ceiling + within_ceiling so drift is detectable without
# cross-referencing round notes (r9 measured 2.54x, r10 3.56x under
# differing clique depths — this pin makes the series comparable).
ADV_CONFIG = "sf1_identical_replicas_x10_depth10_cliques"
ADV_CEILING = 4.0
# r12: dedup_ngram_jaccard joins the adversarial watch. Identical
# replicas used to share EVERY gram hash and saturate the cap-bound
# posting buckets (the documented exactness/perf edge of the
# prefix-filtered path); the r12 exact-dup collapse prepass removes
# that edge — exact dups occupy ONE posting each — so this row now
# guards the collapse GATE: a regression (gate mis-fires, collapse
# output diverges in cost) shows up as adv_over_benign drifting back
# toward the pre-collapse ~4x.
ADVERSARIAL_OPS = ["sim_semantic_dedup", "dedup_minhash_lsh", "dedup_ngram_jaccard"]
SF1_ADV_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_ADV_DIR", "/tmp/spark_graft_synth_sf1_adv"
)

# key columns shifted by replica * STRIDE per table
KEY_SHIFTS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
}
COPY_AS_IS = ["region", "nation"]

# second decade (VERDICT r9 ask #1): 100x replicas of documents +
# embeddings only — the heavy dedup trio reads nothing else. Caesar
# shifts give only 26 distinct letter bijections, so the 100-replica
# decorrelator is the AFFINE cipher c -> a*c + b (mod 26) with a
# coprime to 26: 12 slopes x 26 offsets = 312 distinct bijections, and
# a bijection preserves every within-replica char-shingle Jaccard
# relationship EXACTLY while cross-replica shingle sets are
# (near-)disjoint. Embeddings: rotation by r%64 composed with full
# negation for r>=64 — both orthogonal maps (within-replica cosine
# invariant); the rotation-colliding pair (r, r+64) differs by sign,
# so its cross-replica cosine is NEGATIVE (never a near-dup at
# positive thresholds).
SF10_REPLICAS = 100
SF10_DIR = os.environ.get(
    "SPARK_GRAFT_SF10_DIR", "/tmp/spark_graft_synth_sf10"
)
TRIO = ["dedup_minhash_lsh", "dedup_clusters", "sim_semantic_dedup"]
_AFFINE_SLOPES = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]


def build_sf10(spark, rebuild: bool = False) -> str:
    out_dir = SF10_DIR
    marker = os.path.join(out_dir, "_SYNTH_COMPLETE")
    if os.path.exists(marker) and not rebuild:
        return out_dir
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    import string

    from pyspark.sql import functions as F

    rep = spark.range(SF10_REPLICAS).withColumnRenamed("id", "__rep")

    # documents: affine-permuted alphabet per replica
    lo, up, dg = (string.ascii_lowercase, string.ascii_uppercase,
                  string.digits)
    src = lo + up + dg
    df = spark.read.parquet(f"{SF01}/documents.parquet")
    out = df.crossJoin(F.broadcast(rep)).withColumn(
        "doc_id", F.col("doc_id") + F.col("__rep") * F.lit(STRIDE)
    )
    text_col = F.col("text")
    for r in range(1, SF10_REPLICAS):
        a = _AFFINE_SLOPES[r // 26]
        b = r % 26
        perm = [(a * i + b) % 26 for i in range(26)]
        dsh = (r * 3) % 10  # digits: plain shift (letters carry the
        #                     distinctness; 3 is coprime to 10)
        dst = (
            "".join(lo[p] for p in perm)
            + "".join(up[p] for p in perm)
            + dg[dsh:] + dg[:dsh]
        )
        text_col = F.when(
            F.col("__rep") == r, F.translate(F.col("text"), src, dst)
        ).otherwise(text_col)
    out = out.withColumn("text", text_col).drop("__rep")
    out.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    print(f"# built documents x{SF10_REPLICAS}", file=sys.stderr)

    # embeddings: rotate by r%64, negate for r>=64
    df = spark.read.parquet(f"{SF01}/embeddings.parquet")
    dim = len(df.select("embedding").first()[0])
    out = df.crossJoin(F.broadcast(rep)).withColumn(
        "vec_id", F.col("vec_id") + F.col("__rep") * F.lit(STRIDE)
    )
    rot = F.col("__rep") % dim
    rotated = F.when(rot == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), rot + 1, F.lit(dim) - rot),
            F.slice(F.col("embedding"), 1, rot),
        )
    )
    out = out.withColumn(
        "embedding",
        F.when(
            F.col("__rep") >= dim,
            F.transform(rotated, lambda x: -x),
        ).otherwise(rotated),
    ).drop("__rep")
    out.repartition(16).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    print(f"# built embeddings x{SF10_REPLICAS}", file=sys.stderr)

    # remaining tables copied small (sf0.1) — the trio never reads
    # them; they exist only so register_tables resolves every view
    for table in list(KEY_SHIFTS) + COPY_AS_IS:
        if table in ("documents", "embeddings"):
            continue
        src_p = f"{SF01}/{table}.parquet"
        dst_p = f"{out_dir}/{table}.parquet"
        if os.path.isdir(src_p):
            shutil.copytree(src_p, dst_p)
        else:
            shutil.copy(src_p, dst_p)
    with open(marker, "w") as f:
        f.write("ok")
    return out_dir


def profile_minhash(spark, sf_dir: str) -> dict:
    """Per-stage wall times for minhash_lsh_pairs by running PREFIXES
    of its own pipeline (same code paths, same gates): signature kernel
    + banding; + bucket pair emission; + exact-Jaccard verify. Stage
    deltas name the dominant stage at each tier."""
    import time as _t

    from pyspark.sql import functions as F

    from sidemantic_spark.models.tpch import register_tables
    from sidemantic_spark.operators import dedup as dd
    from sidemantic_spark.operators import gate

    register_tables(spark, sf_dir)
    df = spark.table("documents")
    rec: dict = {}

    n_docs = gate.probe(df, limit=gate.SMALL_ROWS).rows
    rec["n_docs_probe"] = n_docs
    # minhash has one verify path, bucket-local at every size; the
    # label is kept for record continuity
    rec["verify_path"] = "bucket-local"
    d = gate.spread(df, n_docs)
    feat = d.select(
        F.col("doc_id").alias("__id"), dd._norm(F.col("text")).alias("__norm")
    ).select(
        "__id", dd._sig_and_shingles_udf(64, 5)(F.col("__norm")).alias("__f")
    )
    banded = feat.select(
        "__id", dd._band_keys(F.col("__f.sig"), 16, 4)
    ).select("__id", "bk.band", "bk.bhash")

    t0 = _t.perf_counter()
    banded.count()
    rec["sig_and_banding_sec"] = round(_t.perf_counter() - t0, 3)

    cand = dd.pairs_from_bucket_keys(banded)
    t0 = _t.perf_counter()
    rec["candidate_pairs"] = cand.count()
    rec["plus_bucket_pairs_sec"] = round(_t.perf_counter() - t0, 3)

    t0 = _t.perf_counter()
    rec["verified_pairs"] = dd.minhash_lsh_pairs(
        df, jaccard_threshold=0.4
    ).count()
    rec["full_operator_sec"] = round(_t.perf_counter() - t0, 3)
    return rec


def build_sf1(spark, rebuild: bool = False, adversarial: bool = False) -> str:
    """Benign mode decorrelates replicas (Caesar-shifted text, rotated
    embeddings); adversarial mode keeps them IDENTICAL so every
    document/vector sits in a 10-deep exact-duplicate clique."""
    out_dir = SF1_ADV_DIR if adversarial else SF1_DIR
    marker = os.path.join(out_dir, "_SYNTH_COMPLETE")
    if os.path.exists(marker) and not rebuild:
        return out_dir
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    from pyspark.sql import functions as F

    rep = spark.range(REPLICAS).withColumnRenamed("id", "__rep")
    for table, keys in KEY_SHIFTS.items():
        df = spark.read.parquet(f"{SF01}/{table}.parquet")
        out = df.crossJoin(F.broadcast(rep))
        for k in keys:
            out = out.withColumn(k, F.col(k) + F.col("__rep") * F.lit(STRIDE))
        if table == "documents" and not adversarial:
            # alphabet bijection per replica: Caesar-shift letters (both
            # cases by the same r, so the operators' lowercasing keeps
            # the bijection) and digits; whitespace/punct stay fixed
            import string

            lo, up, dg = (string.ascii_lowercase, string.ascii_uppercase,
                          string.digits)
            src = lo + up + dg
            text_col = F.col("text")
            for r in range(1, REPLICAS):
                dst = (lo[r:] + lo[:r]) + (up[r:] + up[:r]) + (dg[r:] + dg[:r])
                text_col = F.when(
                    F.col("__rep") == r, F.translate(F.col("text"), src, dst)
                ).otherwise(text_col)
            out = out.withColumn("text", text_col)
        if table == "embeddings" and not adversarial:
            # rotate dims by replica: slice(v, r+1, 64-r) || slice(v, 1, r)
            dim = len(df.select("embedding").first()[0])
            out = out.withColumn(
                "embedding",
                F.when(F.col("__rep") == 0, F.col("embedding")).otherwise(
                    F.concat(
                        F.slice(
                            F.col("embedding"),
                            F.col("__rep") + 1,
                            F.lit(dim) - F.col("__rep"),
                        ),
                        F.slice(F.col("embedding"), 1, F.col("__rep")),
                    )
                ),
            )
        out = out.drop("__rep")
        parts = 16 if table == "lineitem" else 4
        out.repartition(parts).write.mode("overwrite").parquet(
            f"{out_dir}/{table}.parquet"
        )
        print(f"# built {table} x{REPLICAS}", file=sys.stderr)
    for table in COPY_AS_IS:
        src = f"{SF01}/{table}.parquet"
        dst = f"{out_dir}/{table}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)
    with open(marker, "w") as f:
        f.write("ok")
    return out_dir


def _session_gc(spark) -> None:
    """Explicit cleaner GC at op boundaries (UNTIMED regions only).

    Each heavy run leaves GBs of shuffle files that ContextCleaner
    only deletes after a JVM GC, which a barely-pressured 24g heap
    rarely triggers (default periodicGC is 30min). The stale files
    evict input data from the OS page cache, and LATER ops measured
    2-6x slower with tight repeat spreads (clusters sf10: 45.9s
    mid-session vs 7.5s fresh-session, identical code+data). A
    periodic GC interval is the WRONG fix — its multi-second full-GC
    pauses land inside timed repeats and inflated the light rows
    2-20x — so the GC runs here, between ops, where nothing is being
    timed."""
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _timed(fn, spark, d, n: int) -> dict:
    """Median-of-n timing record with the full repeat list and relative
    spread (r11 VERDICT ask #2: n=2 min-timing had ~70% spread and made
    decade ratios move round-over-round with no code change)."""
    times, rows = [], 0
    for _ in range(n):
        t0 = time.perf_counter()
        rows = fn(spark, d).count()
        times.append(time.perf_counter() - t0)
    ts = sorted(times)
    med = statistics.median(ts)
    return {
        "sec": round(med, 3),
        "sec_min": round(ts[0], 3),
        "rows": rows,
        "repeats": [round(t, 3) for t in times],
        "rel_spread": round((ts[-1] - ts[0]) / max(med, 1e-9), 3),
    }


def crossover(spark, sf1: str, repeats: int) -> dict:
    """Median seconds of each driver-path operator on both paths.

    Rows: documents (and embeddings) sliced by id from sf0.1 (1k, 2k and
    5k docs; 500, 1k and 2k vectors) and sf1 (50k docs, 20k vectors),
    plus a template-heavy corpus (2k short docs from 20 templates, every
    one a near duplicate of a hundred others: the candidate-pair-heavy
    shape). Each record carries the operator's probed kernel-input
    bytes (text, or id + vector + norm per row), the quantity the gate
    compares with ``gate.DRIVER_BYTES``."""
    from pyspark.sql import functions as F

    from sidemantic_spark.operators import dedup, gate, pipeline, similarity

    def docs_of(d, n):
        return spark.read.parquet(f"{d}/documents.parquet").where(F.col("doc_id") % 10**9 < n) \
            .select("doc_id", "text")

    def embs_of(d, n):
        return spark.read.parquet(f"{d}/embeddings.parquet").where(F.col("vec_id") % 10**9 < n)

    # sf1 ids are sf0.1 ids + replica * 10^9: the 50k slice is every replica
    slices = [(SF01, 1000, 500), (SF01, 2000, 1000), (SF01, 5000, 2000), (sf1, 5000, 2000)]
    templates = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("the product page for item"), (F.col("id") % 20).cast("string"),
            F.lit("lists the price shipping and returns of order"), (F.col("id") % 100).cast("string"),
        ).alias("text"),
    ).localCheckpoint()
    ops = {
        "minhash_lsh_pairs": lambda docs, embs: dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.4),
        "ngram_jaccard_pairs+connected_components": lambda docs, embs: dedup.connected_components(
            dedup.ngram_jaccard_pairs(docs, n=5, threshold=0.6)),
        "semantic_dedup": lambda docs, embs: similarity.semantic_dedup(embs, min_cosine=0.4),
        "decontaminate": lambda docs, embs: pipeline.decontaminate(
            docs.where(F.col("doc_id") % 10**9 >= 50), docs.where(F.col("doc_id") % 10**9 < 50), n=8),
    }
    inputs = [
        (f"{'sf1' if d == sf1 else 'sf0.1'}_docs{nd * (10 if d == sf1 else 1)}", docs_of(d, nd), embs_of(d, nv))
        for d, nd, nv in slices
    ] + [("template_heavy_docs2000", templates, None)]
    saved = gate.DRIVER_BYTES
    out: dict = {}
    try:
        for label, docs, embs in inputs:
            text_bytes = docs.agg(F.sum(F.octet_length("text"))).first()[0]
            rec: dict = {"text_bytes": text_bytes}
            if embs is not None:
                rec["vector_bytes"] = embs.count() * (8 + 8 * 64 + 8)
            for op, fn in ops.items():
                if embs is None and op == "semantic_dedup":
                    continue
                for path, bound in (("driver", 1 << 62), ("spark", 0)):
                    gate.DRIVER_BYTES = bound
                    _session_gc(spark)
                    fn(docs, embs).count()  # untimed warmup
                    rec[f"{op}.{path}"] = _timed(lambda s, d: fn(docs, embs), spark, None, repeats)
                print(f"# crossover {label} {op}: driver {rec[op + '.driver']['sec']:.2f}s "
                      f"spark {rec[op + '.spark']['sec']:.2f}s", file=sys.stderr)
            out[label] = rec
    finally:
        gate.DRIVER_BYTES = saved
    return out


def main() -> None:
    rebuild = "--rebuild" in sys.argv
    repeats = 5
    if "--repeats" in sys.argv:
        repeats = int(sys.argv[sys.argv.index("--repeats") + 1])
    heavy_repeats = 3
    if "--heavy-repeats" in sys.argv:
        heavy_repeats = int(sys.argv[sys.argv.index("--heavy-repeats") + 1])

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sidemantic-spark-scale-check")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import importlib.util

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(here, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    queries = entry.queries()

    sf1 = build_sf1(spark, rebuild)
    if "--crossover" in sys.argv:
        from sidemantic_spark.operators import gate

        print(json.dumps({"metric": "driver_path_crossover", "cpus": cpus,
                          "driver_bytes": gate.DRIVER_BYTES, "rows": crossover(spark, sf1, repeats)}))
        spark.stop()
        return
    # --trio-only: just the heavy dedup trio across all three tiers
    # (fast iteration on the sf10 decade; skips the full matrix)
    ops = TRIO if "--trio-only" in sys.argv else OPS

    # warmup: run every op once at sf0.01 so Janino codegen + JIT
    # tiering settle before any timed repeat (multi-second plan shapes
    # settle over ~3-5 executions; see bench.py warmup rationale)
    warm_dir = SF01.replace("sf0.1", "sf0.01")
    for op in ops:
        queries[op](spark, warm_dir).count()
        queries[op](spark, warm_dir).count()

    results: dict[str, dict] = {}
    for op in ops:
        fn = queries[op]
        rec: dict = {}
        _session_gc(spark)
        for label, d in (("sf0.1", SF01), ("sf1", sf1)):
            rec[label] = _timed(fn, spark, d, repeats)
            print(
                f"# {op} @{label}: median {rec[label]['sec']:.2f}s "
                f"spread {rec[label]['rel_spread']} "
                f"({rec[label]['rows']} rows)",
                file=sys.stderr,
            )
        rec["wall_ratio_per_10x_rows"] = round(
            rec["sf1"]["sec"] / max(rec["sf0.1"]["sec"], 1e-9), 2
        )
        rec["ratio_spread_bound"] = round(
            rec["sf0.1"]["rel_spread"] + rec["sf1"]["rel_spread"], 3
        )
        results[op] = rec

    # second decade (VERDICT r9 ask #1): the heavy dedup trio at sf10
    # (100x rows). Per-decade wall ratio flat-or-falling = the
    # operators hold their scaling curve across the broadcast->
    # long-format verify gate (500k docs > gate.SMALL_ROWS: the
    # corpus-scale paths run for real here, not just in plan tests)
    sf10_results: dict[str, dict] = {}
    minhash_profiles: dict[str, dict] = {}
    if "--skip-sf10" not in sys.argv:
        sf10 = build_sf10(spark, rebuild)
        for op in TRIO:
            # one UNTIMED warmup at the tier itself: the sf10-sized
            # stages converge slowly within a session (JIT of the wide
            # codegen stages, Python-worker spin-up, page cache — r12
            # measured first runs 3-4x the settled repeats, e.g.
            # 179.5s -> 69/71/42s on identical code+data), and the
            # sf0.01 warmup above does not warm any of that. Without
            # this the recorded median mixes cold- and steady-state.
            _session_gc(spark)
            queries[op](spark, sf10).count()
            rec10 = _timed(queries[op], spark, sf10, heavy_repeats)
            sf1_sec = results.get(op, {}).get("sf1", {}).get("sec")
            decade1 = results.get(op, {}).get("wall_ratio_per_10x_rows")
            decade2 = (
                round(rec10["sec"] / sf1_sec, 2) if sf1_sec else None
            )
            rec10.update({
                "decade1_ratio_sf01_to_sf1": decade1,
                "decade2_ratio_sf1_to_sf10": decade2,
                "decade2_spread_bound": round(
                    rec10["rel_spread"]
                    + results.get(op, {}).get("sf1", {}).get("rel_spread", 0.0),
                    3,
                ),
            })
            sf10_results[op] = rec10
            print(
                f"# {op} @sf10: median {rec10['sec']:.2f}s spread "
                f"{rec10['rel_spread']} ({rec10['rows']} rows), "
                f"decade ratios {decade1} -> {decade2}",
                file=sys.stderr,
            )
        minhash_profiles = {
            "sf1": profile_minhash(spark, sf1),
            "sf10": profile_minhash(spark, sf10),
        }
        print(f"# minhash profile: {minhash_profiles}", file=sys.stderr)
        # like-for-like decade: originally this forced bucket-local at
        # sf1 because the auto gate used to switch paths at 100k docs.
        # Minhash now has one verify path (bucket-local at every size),
        # so this row re-samples the main sf1 row's code path — kept as
        # a second sf1 sample for record continuity (the spread between
        # it and the main sf1 row is a useful box-noise read).
        from sidemantic_spark.models.tpch import register_tables
        from sidemantic_spark.operators.dedup import minhash_lsh_pairs

        register_tables(spark, sf1)
        docs_sf1 = spark.table("documents")
        # same untimed warmup as the sf10 tier (this row follows the
        # sf10 profile in a churned session; unwarmed it measured
        # 17.6s vs 3.2-4.2s settled, identical code+data)
        _session_gc(spark)
        minhash_lsh_pairs(docs_sf1, jaccard_threshold=0.4).count()
        bl = _timed(
            lambda s, d: minhash_lsh_pairs(docs_sf1, jaccard_threshold=0.4),
            spark, sf1, heavy_repeats,
        )
        mh10 = sf10_results.get("dedup_minhash_lsh", {})
        mh10["sf1_bucket_local_forced"] = bl
        if mh10.get("sec"):
            mh10["decade2_ratio_like_for_like"] = round(
                mh10["sec"] / bl["sec"], 2
            )
        print(
            f"# minhash sf1 bucket-local forced: median {bl['sec']:.2f}s "
            f"spread {bl['rel_spread']} -> like-for-like decade2 "
            f"{mh10.get('decade2_ratio_like_for_like')}",
            file=sys.stderr,
        )

    # adversarial duplicate-density pass (r8 ask #5): same row count as
    # benign sf1 but 10-deep exact-duplicate cliques; the bucket cap
    # must keep wall time in the same regime as the benign run
    adv_results: dict[str, dict] = {}
    if "--skip-adversarial" not in sys.argv:
        adv = build_sf1(spark, rebuild, adversarial=True)
        for op in ADVERSARIAL_OPS:
            _session_gc(spark)
            queries[op](spark, adv).count()  # untimed warmup
            reca = _timed(queries[op], spark, adv, heavy_repeats)
            benign = results.get(op, {}).get("sf1", {}).get("sec")
            ratio = round(reca["sec"] / benign, 2) if benign else None
            reca.update({
                "benign_sf1_sec": benign,
                "adv_over_benign": ratio,
                "config": ADV_CONFIG,
                "ceiling": ADV_CEILING,
                "within_ceiling": (ratio is not None and ratio <= ADV_CEILING),
            })
            adv_results[op] = reca
            print(f"# {op} @sf1-adversarial: median {reca['sec']:.2f}s "
                  f"({reca['rows']} rows), adv_over_benign={ratio} "
                  f"(ceiling {ADV_CEILING})",
                  file=sys.stderr)

    print(json.dumps({
        "metric": "sf01_to_sf1_scaling",
        "replicas": REPLICAS,
        "stats": {
            "estimator": "median",
            "repeats_light": repeats,
            "repeats_heavy": heavy_repeats,
            "rel_spread": "(max-min)/median over the repeats",
            "pre_r12_note": "rounds before r12 recorded min-of-2",
        },
        "ops": results,
        "sf10_trio": sf10_results,
        "minhash_stage_profile": minhash_profiles,
        "adversarial": adv_results,
        "note": (
            "ratio < 10 = sublinear wall-clock per 10x rows (fixed "
            "overhead amortizing / parallelism headroom); ratio ~10 = "
            "linear; ratio > 10 names the next perf target. "
            "adversarial = identical-replica sf1 (10-deep duplicate "
            "cliques): adv_over_benign near 1 shows the bucket cap "
            "bounds pathological pair expansion"
        ),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
