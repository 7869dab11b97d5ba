"""Similarity-search operators over embedding columns
(SURVEY.md §2.I I3): brute-force top-k (exact baseline), pairwise
near-dup, and LSH-bucketed ANN (the scale path).

Scale design:

- **topk_cosine**: broadcast the (small) query set against the full
  candidate table — a BroadcastNestedLoopJoin where the streamed side
  is the big table, scanned once, no shuffle of candidates. Linear in
  candidates × queries; right whenever |queries| is dim-table-sized.
- **cosine_pairs**: O(n²) all-pairs — the exact baseline. Fully
  executor-side: a hash-block grid cogroup pairs bounded blocks on
  executors (no vector ever transits the driver); switch to LSH when
  the n² compute itself is the problem.
- **ann_lsh_topk**: hyperplane-LSH bucket equi-join; each query only
  scores candidates in its bucket. Shuffle O(n), score O(n²/2^planes)
  in expectation. Recall tunable via n_planes / multi-probe.

Ranking uses ROUND(cos, 6) + id tie-break so order is deterministic
and engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.functions.vectors import (
    cosine,
    dot,
    lsh_hyperplane_sig,
    norm_sq,
)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail: keep the ``k`` best candidates per query by
    ``cos_sim`` desc, ties broken on ``c_vec_id``, numbered from 1.
    ``scored`` carries (q_vec_id, c_vec_id, cos_sim)."""
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos_sim"), "c_vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "rank", "c_vec_id", "cos_sim")
    )


def topk_cosine(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    The query set (dim-table-sized by contract) is collected into a
    numpy matrix shipped with the kernel; candidates stream through
    mapInPandas in Arrow batches — the big side is scanned once, never
    shuffled, and the per-batch compute is vectorized (bit-identical
    to the expression fold; see functions/kernels.py).
    Returns (q_vec_id, rank, c_vec_id, cos_sim)."""
    from etl_work_flow_for_big_data_spark.functions.kernels import pairwise_cosine

    corpus = [
        (r[0], list(r[1]))
        for r in queries.select(id_col, vec_col).collect()
    ]
    scored = pairwise_cosine(candidates, id_col, vec_col, corpus, mode="all")
    return _rank_topk(
        scored.select(
            F.col("d2").alias("q_vec_id"),
            F.col("d1").alias("c_vec_id"),
            F.round("cos_raw", 6).alias("cos_sim"),
        ),
        k,
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_size: int = 65536,
    n_hint: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact O(n²) baseline).

    Fully executor-side block grid — NO vector ever transits the
    driver. The corpus is hash-partitioned into ``n_blocks ≈
    n/block_size`` blocks (``pmod(xxhash64(id), n_blocks)`` — hash-
    based so ids of any integral value, negatives included, partition
    correctly). Two shuffled copies meet in a cogroup keyed on
    ``(blk, sub)``:

    - the **y side** carries each row once per ``sub`` slice under its
      OWNER block (replication factor ``n_splits``);
    - the **x side** carries each row once per block (replication
      factor ``n_blocks``) in the one ``sub`` slice its id hashes to.

    Every cogroup group therefore holds one x-slice (≤ ~block_size
    rows) against one full y-block (≤ ~block_size rows); the Arrow
    kernel fold-dots them in bounded chunks (cos matrix capped ≈32 MiB)
    keeping ``x_id < y_id``, so an unordered pair {x, y} is produced
    exactly once — in the block that owns y, same contract as ever.
    Total shuffle is the textbook blocked-all-pairs O(n²/block_size)
    rows, spread over ``n_blocks × n_splits`` tasks; nothing gathers at
    the driver and no single task sees more than two blocks.

    ``n_splits = max(n_blocks, shuffle_partitions / n_blocks)``: at
    scale it equals ``n_blocks`` (square grid, every group two blocks);
    on small corpora it rises to the shuffle width so the n² compute
    still parallelizes instead of collapsing into one task.

    Compute stays O(n²·dim) — that is the exact-baseline contract;
    ann_lsh_topk / minhash candidates are the scale path when n² itself
    is the problem. A conservative raw-cosine prefilter inside the
    kernel keeps the Arrow transfer at result size instead of n² size;
    the exact rounded filter is applied Spark-side.

    ``n_hint``: caller-supplied (approximate) corpus size used only to
    size the grid — passing it skips the sizing ``count()`` scan. An
    underestimate still bounds per-task memory at roughly the true
    n / n_blocks; correctness never depends on it.

    ``dim``: the corpus's embedding width when the caller knows it
    (the fixture/table contract) — PASS IT at scale. Without it each
    y-block infers its own modal width, which is sound only while
    corrupted rows are a minority of every block: a block where
    same-width corrupted rows outnumber good ones would silently NaN
    the good rows, a partition-dependent result.

    Ids must be integral: the kernel compares int64 ids for the
    pair-once property. Validated up front — a non-integral id column
    raises here instead of failing inside a task (or, worse, a numeric
    pmod silently collecting empty blocks, ADVICE r2)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from etl_work_flow_for_big_data_spark.functions.kernels import (
        _as_matrix,
        _fold_norm_sq,
        _score_block,
    )

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"cosine_pairs needs an integral id column; {id_col!r} is "
            f"{id_type.simpleString()} — add a surrogate key (e.g. "
            "xxhash64 of the natural id) before pairing"
        )
    n = n_hint if n_hint is not None else df.count()
    n_blocks = max(1, -(-n // block_size))
    try:
        shuffle_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" under AQE-advisory setups
        shuffle_parts = 200
    n_splits = max(n_blocks, -(-shuffle_parts // n_blocks))

    src = df.select(
        F.col(id_col).cast("long").alias("pid"), F.col(vec_col).alias("pv")
    )
    # replicate via explode(sequence(...)): a literal ARRAY of
    # n_blocks/n_splits elements would put O(grid-width) Literal nodes
    # into the plan (15k+ at the advertised scale — codegen fallback /
    # driver plan blowup); sequence keeps the plan O(1)
    # y's pid/pv are REALIASED to distinct names: x and y share the
    # `src` lineage, so passing "pid"/"pv" through both sides gives
    # the cogroup children IDENTICAL attribute ids — and when a
    # downstream plan consumes only part of the UDF output, Catalyst's
    # column pruning treats the right side's copies as already
    # provided by the left and drops them, handing the kernel a
    # right-frame with no vector column (found by dedup_embedding,
    # whose anti-join consumes only d2; sim_pairs never pruned, so
    # the hazard sat latent). Fresh aliases mean fresh expression
    # ids — nothing to collide.
    y = src.select(
        F.pmod(F.xxhash64("pid"), F.lit(n_blocks)).cast("int").alias("blk"),
        F.explode(F.sequence(F.lit(0), F.lit(n_splits - 1))).alias("sub"),
        F.col("pid").alias("pid_y"),
        F.col("pv").alias("pv_y"),
    )
    # a distinct second hash input decorrelates the x slice from the y
    # block so a hash-skewed id set cannot align both grid dimensions
    x = src.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
        F.pmod(F.xxhash64("pid", F.lit(0x5EED)), F.lit(n_splits))
        .cast("int")
        .alias("sub"),
        "pid",
        "pv",
    )
    prefilter = threshold - 1e-6

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {
                    "d1": pd.Series(dtype="int64"),
                    "d2": pd.Series(dtype="int64"),
                    "cos_raw": pd.Series(dtype="float64"),
                }
            )
        # explicit contract dim when given; else the y block's modal
        # width (minority-corruption assumption, see docstring)
        B = _as_matrix(right["pv_y"], dim)
        ids_b = right["pid_y"].to_numpy(dtype=np.int64)
        norms_b = _fold_norm_sq(B)
        # chunk the x slice so the cos matrix stays ~32 MiB no matter
        # how the grid was sized (4M cells × 8 B); scoring rules
        # (fold order, pair-once mask, NaN exclusion, prefilter) live
        # in the shared kernels._score_block
        chunk = max(1, (1 << 22) // len(right))
        outs = []
        for lo in range(0, len(left), chunk):
            sl = left.iloc[lo : lo + chunk]
            # both sides are the same corpus: force the y block's
            # (modal) width so the fold never truncates or IndexErrors
            # when a corrupted row leads an x chunk
            A = _as_matrix(sl["pv"], B.shape[1])
            ids_a = sl["pid"].to_numpy(dtype=np.int64)
            outs.append(
                _score_block(ids_a, A, ids_b, B, norms_b, "pairs", prefilter)
            )
        # left is non-empty here, so the chunk loop emitted ≥1 frame
        return pd.concat(outs, ignore_index=True)

    scored = (
        x.groupBy("blk", "sub")
        .cogroup(y.groupBy("blk", "sub"))
        .applyInPandas(score, schema="d1 long, d2 long, cos_raw double")
    )
    return (
        scored.withColumn("cos_sim", F.round("cos_raw", 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("d1", "d2", "cos_sim")
    )


def ann_lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH
    bucket. Returns (q_vec_id, rank, c_vec_id, cos_sim) — recall < 1
    by design; deterministic given the md5 hash family.

    ``multi_probe=True`` additionally probes every bucket at Hamming
    distance 1 from the query signature (flip each plane bit) — the
    standard recall lever: a near neighbor differing on one hyperplane
    side is found at ~(n_planes+1)× candidate cost instead of being
    lost. Only the QUERY side fans out; the candidate index is
    untouched, so the big-table cost is unchanged at 100 TB."""
    sig = lsh_hyperplane_sig(vec_col, n_planes, dim)
    q = queries.select(
        F.col(id_col).alias("q_vec_id"),
        F.col(vec_col).alias("q_vec"),
        sig.alias("sig"),
    )
    if multi_probe:
        probes = F.array(
            F.col("sig"),
            *[F.col("sig").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
        )
        q = q.select(
            "q_vec_id", "q_vec", F.explode(probes).alias("bucket")
        )
    else:
        q = q.withColumnRenamed("sig", "bucket")
    c = candidates.select(
        F.col(id_col).alias("c_vec_id"),
        F.col(vec_col).alias("c_vec"),
        sig.alias("bucket"),
    )
    cand = (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col("q_vec_id") != F.col("c_vec_id"))
        .select("q_vec_id", "q_vec", "c_vec_id", "c_vec")
    )
    if multi_probe:
        # a (q, c) pair can meet through several probed buckets; the
        # duplicate rows are bit-identical, so distinct is deterministic
        cand = cand.distinct()
    scored = cand.withColumn(
        "cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6)
    )
    return _rank_topk(scored, k)


def ann_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    n_planes: int = 8,
    dim: int = 64,
    corpus_rows: int | None = None,
    multi_probe: bool = False,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH buckets + exact
    cosine verify — the scale-safe counterpart of ``cosine_pairs``
    (VERDICT r12 #4: the registered embedding-dedup path must not be
    the O(n²) grid).

    Candidate generation is a self-equi-join on the deterministic
    md5-derived ``n_planes``-bit signature: only vectors landing in
    the same bucket are paired, so expected verify cost is
    O(n²/2^planes) instead of O(n²), and the shuffle is O(n) rows of
    (id, vec, bucket). Candidates are verified with the exact
    double-fold cosine and kept at ``ROUND(cos, 6) >= threshold``.
    Returns (d1, d2, cos_sim) with d1 < d2.

    Recall is < 1 by construction (single table, single probe): a pair
    at angle θ shares all planes with probability (1 - θ/π)^planes —
    high for true near-dups (cos ≥ 0.9 ⇒ ~0.29 at 8 planes per table;
    production runs L independent tables or multi-probe to push
    recall → 1, both preserving this operator's shape). The oracle
    mirrors the exact md5 hash family, so the candidate set — and
    therefore the result — is engine-independent, approximate or not.

    ``multi_probe=True`` is the in-repo recall lever: the LEFT side of
    the self-join fans out to its Hamming-1 probe set (base bucket +
    each single-bit flip), so any pair whose signatures differ on at
    most ONE plane becomes a candidate — recall rises to
    P[Hamming ≤ 1] = s^p + p·s^(p-1)(1-s) for plane-agreement
    probability s (≈2.3× the single-probe recall for cos 0.9 at 8
    planes) at (p+1)× the join fan-out on one side only; the big
    table's bucket index is untouched. Each qualifying pair matches
    exactly one (probe, bucket) combination (the probe values of a
    signature are pairwise distinct), so no dedup pass is needed.

    ``n_tables`` is the OTHER standard recall lever: L independent
    hash families (table t uses md5 planes ``t·p .. t·p+p-1`` —
    deterministic and engine-mirrorable like table 0), candidates =
    the union of per-table bucket matches, recall = 1-(1-s^p)^L. A
    pair can meet in several tables, so the multi-table branch
    deduplicates the (bit-identical) verified rows with one distinct;
    join fan-out is L× on both sides (each row carries one (table,
    bucket) key per table — posexplode, still O(n·L) shuffle rows,
    never all-pairs). Composes with ``multi_probe`` (probes fan each
    table's bucket).

    At 100 TB the lever is ``n_planes`` ≈ log2(corpus / target bucket
    size): bucket count scales with the corpus, keeping per-bucket
    pair work constant. The self-join never broadcasts unless
    ``corpus_rows`` (parquet-footer count) proves the whole vector
    table is dim-sized — same size-gated merge rule as
    minhash_lsh_pairs, ~1 KiB per 64-dim row.

    Choosing the recall lever (measured, r14 — planted-duplicate
    probe at threshold 0.9 on the 32k decorrelated corpus,
    docs/ann_dedup_recall_hi_r14.json): ``n_tables`` buys more recall
    per verified candidate than ``multi_probe`` at every plane count
    (8 planes: L=4 → 0.87 recall @ 11M candidates vs probe → 0.81 @
    23M; 12 planes: 0.72 @ 0.9M vs 0.66 @ 2.6M), so for this batch
    self-join family default to ``n_tables=4``. ``multi_probe``'s
    niche is index economy — ONE stored corpus index with fan-out
    only on the probe side — which matters when serving a persisted
    index, not here. The best measured recall-per-candidate
    composition is scaled planes + ``multi_probe`` + ``n_tables=2``
    (12 planes: 0.85 @ 5.2M). Measured recall matches the closed-form
    P[caught] above to ±0.02, so extrapolate with the formula.
    """
    from etl_work_flow_for_big_data_spark.catalog import (
        BROADCAST_MAX_BYTES,
        fan_out,
    )

    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    # fan out the signature stage (r15): n_tables × n_planes × dim
    # interpreted plane folds per row ran in the single scan task of a
    # one-file corpus; projected to (id, vector) so the exchange moves
    # only what the signature needs. No-op at >= cores input splits.
    df = fan_out(df.select(id_col, vec_col))
    # persist: the signature projection feeds BOTH sides of the
    # self-join; without it Spark recomputes the 8×64 interpreted
    # plane fold per branch — measured 1.6× slower at sf0.1
    # (med-of-5 interleaved: 3.21 s → 2.01 s). Same release contract
    # as minhash_lsh_pairs: the JVM ContextCleaner frees it once the
    # returned plan is garbage-collected; MEMORY_AND_DISK spills at
    # corpus scale rather than OOMs.
    # nsq: each row's self-dot is computed ONCE here and persisted with
    # the signature (r14). The verify cosine below then pays one
    # interpreted 64-dim fold per candidate pair (the cross dot)
    # instead of three — the two norm folds were being recomputed per
    # PAIR (~candidates/rows times per row; 45k candidates at sf0.1).
    # Bit-identical: norm_sq over the same row is the same double, so
    # try_divide(dot, sqrt(nsq_x*nsq_y)) reproduces cosine() exactly.
    if n_tables == 1:
        sig = lsh_hyperplane_sig(vec_col, n_planes, dim)
        base = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm_sq(F.col(vec_col)).alias("nsq"),
            sig.alias("bucket"),
        ).persist()
    else:
        sigs = F.array(
            *[
                lsh_hyperplane_sig(vec_col, n_planes, dim, plane_offset=t * n_planes)
                for t in range(n_tables)
            ]
        )
        base = (
            df.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
                norm_sq(F.col(vec_col)).alias("nsq"),
                sigs.alias("__sigs"),
            )
            .select(
                "id", "v", "nsq", F.posexplode("__sigs").alias("tbl", "bucket")
            )
            .persist()
        )
    # price the LARGEST relation Catalyst might pick as the broadcast
    # build side: posexplode multiplies the persisted base by n_tables,
    # and multi-probe fans the left side (n_planes+1)× — without these
    # factors the gate's "never broadcasts unless provably dim-sized"
    # invariant would be off by the fan-out (ADVICE r13)
    fan = n_tables * ((n_planes + 1) if multi_probe else 1)
    small = (
        corpus_rows is not None
        and corpus_rows * (dim * 16) * fan <= BROADCAST_MAX_BYTES
    )
    left = base
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
        )
        keep = ["id", "v", "nsq"] + (["tbl"] if n_tables > 1 else [])
        left = base.select(*keep, F.explode(probes).alias("bucket"))
    if not small:
        left = left.hint("merge")
        base = base.hint("merge")
    x = left.alias("x")
    y = base.alias("y")
    cond = (F.col("x.bucket") == F.col("y.bucket")) & (
        F.col("x.id") < F.col("y.id")
    )
    if n_tables > 1:
        cond = cond & (F.col("x.tbl") == F.col("y.tbl"))
    out = (
        x.join(y, cond)
        .withColumn(
            "cos_sim",
            F.round(
                F.try_divide(
                    dot(F.col("x.v"), F.col("y.v")),
                    F.sqrt(F.col("x.nsq") * F.col("y.nsq")),
                ),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col("x.id").alias("d1"),
            F.col("y.id").alias("d2"),
            "cos_sim",
        )
    )
    if n_tables > 1:
        # a pair meeting in several tables produces bit-identical rows
        # (cos_sim is a pure function of the pair) — distinct is
        # deterministic, same rationale as ann_lsh_topk's multi-probe
        out = out.distinct()
    return out


def kmeans_refine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means (Lloyd) refinement of an initial centroid set.

    Each iteration: (1) assign every vector to its max-cosine centroid
    — one Arrow-kernel pass over the full table, (2) recompute each
    centroid as the element-wise mean of its members — posexplode +
    (cluster, dim) groupBy, shuffle O(n·dim) of scalars, then a k×dim
    collect (constant-size by contract). The distributed shape is the
    standard one: the data never gathers anywhere, only centroids do.

    Means over doubles are FP-order-dependent across partitionings, so
    refined centroids are deterministic in VALUE only up to FP
    association — callers needing cross-engine bit-parity (the oracled
    ivf_topk query) use iters=0. Empty clusters keep their previous
    centroid (the standard fix; no resampling, stays deterministic).
    """
    from etl_work_flow_for_big_data_spark.functions.kernels import pairwise_cosine

    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    for _ in range(iters):
        scored = pairwise_cosine(vecs, "id", "v", centroids, mode="full")
        assigned = _argmax_assign(scored, "id")
        means = (
            vecs.join(assigned, "id")
            .select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cluster", F.transform("pm", lambda s: s["m"]).alias("centroid")
            )
            .collect()
        )
        by_id = {r["cluster"]: list(r["centroid"]) for r in means}
        centroids = [(cid, by_id.get(cid, vec)) for cid, vec in centroids]
    return centroids


def kmeans_inertia(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
) -> float:
    """Mean max-cosine of every vector to its nearest centroid (the
    spherical-k-means objective; higher is tighter)."""
    from etl_work_flow_for_big_data_spark.functions.kernels import pairwise_cosine

    scored = pairwise_cosine(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        "id",
        "v",
        centroids,
        mode="full",
    )
    row = (
        scored.groupBy("d1")
        .agg(F.max("cos_raw").alias("best"))
        .agg(F.avg("best").alias("objective"))
        .collect()[0]
    )
    return float(row["objective"])


def _ivf_assign_window():
    """Deterministic nearest-centroid ranking for PROBE selection
    (top-nprobe per query — genuinely top-N, and only ever applied to
    the dim-table-sized query side): rounded cosine desc, centroid id
    asc on ties — engine-independent (the oracle mirrors it exactly).
    Built lazily: classic Window construction needs an active session.
    Single-winner ASSIGNMENT uses :func:`_argmax_assign` instead."""
    return Window.partitionBy("d1").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("d2")
    )


def _argmax_assign(scored: DataFrame, out_id_col: str) -> DataFrame:
    """Nearest-centroid assignment as a map-side-aggregating argmax —
    ``max(struct(round(cos,6), -d2))`` picks exactly the row the
    rn=1 window over :func:`_ivf_assign_window` picked (higher rounded
    cosine wins; ties break to the SMALLER centroid id via the negated
    field; NaN cosines sort greatest under both forms — equality
    verified row-for-row at sf0.1, r14).

    Why not the window (guide §2.3, aggregate before you shuffle): the
    scored frame is corpus × centroids rows, and a window must shuffle
    and SORT all of them by d1; the groupBy argmax partial-aggregates
    per map task, so only ~one row per (task, key) crosses the wire —
    at 2B docs × 1k centroids that is the difference between shuffling
    2T rows and 2B. Returns (out_id_col, cluster)."""
    return (
        scored.groupBy("d1")
        .agg(
            F.max(
                F.struct(
                    F.round("cos_raw", 6).alias("c"),
                    (-F.col("d2")).alias("nd2"),
                )
            ).alias("m")
        )
        .select(
            F.col("d1").alias(out_id_col), (-F.col("m.nd2")).alias("cluster")
        )
    )


def _ivf_scored_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    kmeans_iters: int,
):
    """Shared IVF front half (ivf_topk one-shot and ivf_build both run
    it): deterministic centroid set (first ``n_centroids`` ids,
    optionally Lloyd-refined), one kernel pass scoring every vector
    against the centroids, and the nearest-centroid assignment.

    Returns ``(centroids, mode, scored, assigned)`` where ``scored``
    is the raw (d1, d2, cos_raw) frame (probe selection reuses it) and
    ``assigned`` is (id_col, cluster).
    """
    from etl_work_flow_for_big_data_spark.functions.kernels import pairwise_cosine

    centroids = [
        (r[0], list(r[1]))
        for r in df.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    ]
    if kmeans_iters:
        centroids = kmeans_refine(df, id_col, vec_col, centroids, kmeans_iters)
    mode = "full" if kmeans_iters else "all"
    scored = pairwise_cosine(df, id_col, vec_col, centroids, mode=mode)
    assigned = _argmax_assign(scored, id_col)
    if not kmeans_iters:
        # unrefined centroids are data rows scored in 'all' mode (self
        # excluded): nearest non-self wins above, but a centroid
        # belongs to its own cluster by definition
        assigned = assigned.withColumn(
            "cluster",
            F.when(F.col(id_col) < n_centroids, F.col(id_col)).otherwise(
                F.col("cluster")
            ),
        )
    return centroids, mode, scored, assigned


def ivf_topk(
    df: DataFrame,
    query_ids,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    k: int = 5,
    kmeans_iters: int = 0,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid, then
    answer each query from its ``nprobe`` nearest clusters.

    The initial centroid set is deterministic (the first
    ``n_centroids`` ids); ``kmeans_iters`` Lloyd iterations
    (:func:`kmeans_refine`) tighten it — the oracled query keeps
    iters=0 because refined means are FP-order-dependent across
    engines; library callers wanting real IVF recall use iters>=2.

    ``nprobe`` is the standard IVF recall lever: a true neighbor
    sitting just across a cluster boundary is found by also searching
    the query's 2nd..nth nearest clusters. Only the QUERY side fans
    out (each query joins nprobe cluster ids instead of one); the
    corpus-side index is untouched, so the big-table cost at 100 TB
    is unchanged and candidate volume scales ~linearly in nprobe —
    measured recall/cost curve in SCALE.md (r10). The query's own
    assigned cluster is always probed (covers the iters=0
    centroid-owns-itself convention).

    Scale shape: centroid assignment is one kernel pass (O(n·c));
    search is an equi-join on cluster id, scoring O(n·q·nprobe/c) in
    expectation — the inverted-file trade. The assignment is persisted
    (r14) because both join sides consume it; a consequence is that
    REPEATED calls in one session reuse the materialized assignment
    through Spark's CacheManager (the subtree is identical — query ids
    don't feed it), so in-session re-runs measure amortized cost, same
    as every persisted intermediate here; a fresh process recomputes
    from parquet. scripts/ivf_amortize.py clears the cache between its
    one-shot batches to keep measuring true one-shot semantics. Deterministic end-to-end at
    iters=0: ties in assignment break on centroid id, ranking on
    rounded cosine + candidate id.
    Returns (q_vec_id, rank, c_vec_id, cos_sim).
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    centroids, mode, scored, assigned = _ivf_scored_assign(
        df, id_col, vec_col, n_centroids, kmeans_iters
    )
    # persist: `assigned` feeds BOTH sides of the cluster equi-join (q
    # and c derive from `vecs`); without it the full-corpus kernel
    # pass + assignment window re-planned per side (2 MapInPandas
    # nodes at nprobe=1, 3 at nprobe=2 — plan-verified, r14). The
    # persisted frame is (id, cluster) — two narrow columns per corpus
    # row, the in-memory inverted file; ContextCleaner releases it
    # like every other operator persist here.
    assigned = assigned.persist()
    w_assign = _ivf_assign_window()
    vecs = df.select(F.col(id_col), F.col(vec_col)).join(assigned, id_col)
    if nprobe > 1:
        # top-nprobe clusters per query by centroid cosine, UNION the
        # assigned cluster (identical at iters>0; at iters=0 a query
        # that IS a centroid owns its cluster by convention while its
        # self-score is excluded from `scored`). r14: scored per-row
        # values are independent rows, so the query-side ranking is
        # computed from a kernel pass over ONLY the query rows —
        # filtering d1 AFTER the kernel cannot push through the opaque
        # mapInPandas, so `scored.filter(d1.isin(...))` re-ran the
        # full-corpus pass just to rank 5 queries (bit-identical rows
        # either way; the corpus-wide `scored` still feeds assignment).
        from etl_work_flow_for_big_data_spark.functions.kernels import (
            pairwise_cosine,
        )

        q_scored = pairwise_cosine(
            df.filter(F.col(id_col).isin(query_ids)),
            id_col,
            vec_col,
            centroids,
            mode=mode,
        )
        probes = (
            q_scored
            .withColumn("__rn", F.row_number().over(w_assign))
            .filter(F.col("__rn") <= nprobe)
            .select(F.col("d1").alias(id_col), F.col("d2").alias("cluster"))
        )
        q_clusters = (
            probes.union(assigned.filter(F.col(id_col).isin(query_ids)))
            .distinct()
        )
        q = (
            df.select(F.col(id_col), F.col(vec_col))
            .filter(F.col(id_col).isin(query_ids))
            .join(q_clusters, id_col)
            .select(
                F.col(id_col).alias("q_vec_id"),
                F.col(vec_col).alias("q_vec"),
                F.col("cluster"),
            )
        )
    else:
        q = (
            vecs.filter(F.col(id_col).isin(query_ids))
            .select(
                F.col(id_col).alias("q_vec_id"),
                F.col(vec_col).alias("q_vec"),
                F.col("cluster"),
            )
        )
    c = vecs.select(
        F.col(id_col).alias("c_vec_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("cluster"),
    )
    from etl_work_flow_for_big_data_spark.functions.vectors import cosine

    pairs = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("q_vec_id") != F.col("c_vec_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
    )
    return _rank_topk(pairs, k)


def ivf_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    n_centroids: int = 16,
    kmeans_iters: int = 0,
) -> None:
    """Build and PERSIST an IVF index: the build-once/query-many form
    of :func:`ivf_topk` (VERDICT r10 next-round #3).

    The one-shot ``ivf_topk`` recomputes centroid assignment — a full
    kernel pass over the corpus — on every call; the 100-TB usage
    pattern is the opposite: assign once, persist the inverted file,
    then serve many query batches against it. Layout written under
    ``index_path``:

    - ``postings/`` — the corpus (id, vector, cluster) written
      ``partitionBy("cluster")``: one directory per inverted list, so
      a query batch probing ``nprobe`` clusters scans ONLY those
      directories (static partition pruning — the on-disk twin of the
      in-memory inverted file). At 100 TB each cluster directory is
      further split across files by the write parallelism; probing
      stays proportional to data probed, never corpus size.
    - ``centroids/`` — the k×dim centroid table (constant-size).
    - ``meta/`` — one row pinning the build convention (n_centroids,
      kmeans_iters, scoring mode) so the query side replicates
      assignment semantics exactly; written through Spark so the
      index lives on any Hadoop filesystem, not just local disk.

    Assignment semantics are byte-shared with ``ivf_topk`` (same
    :func:`_ivf_scored_assign`), so ``ivf_build`` + :func:`ivf_query`
    ≡ ``ivf_topk`` for in-corpus queries — pinned in
    tests/test_ivf_persisted.py.
    """
    centroids, mode, _scored, assigned = _ivf_scored_assign(
        df, id_col, vec_col, n_centroids, kmeans_iters
    )
    spark = df.sparkSession
    postings = (
        df.select(F.col(id_col), F.col(vec_col))
        .join(assigned, id_col)
        # shuffle by cluster before the partitioned write: without it
        # every task opens a writer per cluster it touches (tasks ×
        # n_centroids small files — the classic partitionBy fan-out);
        # with it each inverted list is written by the tasks that own
        # it. At 100 TB this is the same shuffle the write would
        # otherwise pay in file-count pathology.
        .repartition(F.col("cluster"))
    )
    (
        postings.write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{index_path}/postings")
    )
    # constant-size sidecars go through pandas (Arrow local relation,
    # then one shuffle task): a plain-list createDataFrame slices the
    # rows across defaultParallelism pickled partitions, and
    # coalesce(1) then drains all of them through ONE task's Python
    # worker round-trips serially — measured 6-7 s for 16 rows vs
    # ~0.5 s this way.
    import pandas as pd

    (
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "cid": [int(cid) for cid, _ in centroids],
                    "cvec": [[float(x) for x in vec] for _, vec in centroids],
                }
            )
            if centroids
            else pd.DataFrame({"cid": [], "cvec": []}),
            "cid long, cvec array<double>",
        )
        .repartition(1)
        .write.mode("overwrite")
        .parquet(f"{index_path}/centroids")
    )
    (
        spark.createDataFrame(
            # postings_schema pins the read: an EMPTY corpus (every
            # row outside the caller's validity domain — found by fuzz
            # seed 80096, tiny axis) writes a partitioned directory
            # with no data files, which schema inference cannot read;
            # a declared-schema scan returns the empty frame instead.
            # It is also the right 100-TB read (no footer sampling).
            pd.DataFrame(
                {
                    "n_centroids": [n_centroids],
                    "kmeans_iters": [kmeans_iters],
                    "mode": [mode],
                    "id_col": [id_col],
                    "vec_col": [vec_col],
                    "postings_schema": [postings.schema.json()],
                }
            ),
            "n_centroids int, kmeans_iters int, mode string, "
            "id_col string, vec_col string, postings_schema string",
        )
        .repartition(1)
        .write.mode("overwrite")
        .parquet(f"{index_path}/meta")
    )


#: per-process sidecar cache for ivf_query: index_path → (fingerprint,
#: meta row, centroids list). The meta and centroid tables are
#: CONSTANT-SIZE index metadata (one row / k×dim rows by the build
#: contract); re-reading them through two Spark jobs on EVERY query
#: batch was ~40% of the steady-state batch cost at sf0.1 (measured
#: 0.4 s + 0.4 s of a ~2 s batch, r14). The fingerprint (mtime+size of
#: every sidecar file) invalidates on rebuild — same convention as the
#: registered queries' _cached_ivf_index — so a rebuilt index at the
#: same path is re-read, never served stale.
_IVF_SIDECAR_CACHE: dict[str, tuple] = {}


def _sidecar_fingerprint(index_path: str) -> tuple:
    import os

    sig: list[tuple] = []
    for sub in ("meta", "centroids"):
        root = f"{index_path}/{sub}"
        if os.path.isdir(root):
            for dirpath, _dirs, names in sorted(os.walk(root)):
                for nm in sorted(names):
                    p = os.path.join(dirpath, nm)
                    try:
                        st = os.stat(p)
                    except OSError:
                        continue
                    sig.append((p, st.st_mtime_ns, st.st_size))
        else:
            # non-local filesystem (no stat walk possible) — return a
            # sentinel the caller treats as "never cache"
            return ()
    return tuple(sig)


def _read_sidecars(spark, index_path: str):
    """meta row + centroid list for an index, cached per process keyed
    on the sidecar files' fingerprint (see _IVF_SIDECAR_CACHE)."""
    fp = _sidecar_fingerprint(index_path)
    if fp:
        hit = _IVF_SIDECAR_CACHE.get(index_path)
        if hit is not None and hit[0] == fp:
            return hit[1], hit[2]
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    centroids = [
        (r["cid"], list(r["cvec"]))
        for r in spark.read.parquet(f"{index_path}/centroids").collect()
    ]
    if fp:
        _IVF_SIDECAR_CACHE[index_path] = (fp, meta, centroids)
    return meta, centroids


def _postings_schema(meta) -> "StructType":
    """Declared scan schema for the postings read, from the meta row's
    pinned JSON. The partition column (`cluster`) is part of it —
    Spark resolves partition values against declared columns — and an
    empty index (no data files at all) reads as an empty frame
    instead of an UNABLE_TO_INFER_SCHEMA failure."""
    import json as _json

    from pyspark.sql.types import StructType

    return StructType.fromJson(_json.loads(meta["postings_schema"]))


def ivf_query(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Answer a query batch from a persisted :func:`ivf_build` index.

    Per batch the work is: one constant-size centroid read (cached per
    process keyed on the sidecar files' fingerprint — r14: re-reading
    the one-row meta and k×dim centroid tables through two Spark jobs
    per batch was ~40% of steady-state batch cost; a rebuild changes
    the fingerprint and is re-read), one kernel pass scoring the QUERY
    vectors against the centroids (probe selection — queries are
    dim-table-sized by contract, same as ``topk_cosine``), then a scan
    of ONLY the probed cluster directories. The probe cluster ids are collected (≤ |queries| ×
    (nprobe+1), driver-sized by contract) and applied as an ``isin``
    filter so the postings read is STATIC partition pruning —
    `.explain` shows the pruned PartitionFilters; the corpus-sized
    side is never rescanned or reshuffled per batch. That is the
    amortization: the corpus-wide assignment pass is paid once at
    build, each query batch costs O(probed lists) — measured
    one-shot-vs-amortized numbers in SCALE.md.

    Probe semantics replicate ``ivf_topk`` exactly (meta pins the
    build's scoring mode): nearest-centroid assignment with the
    iters=0 centroid-owns-itself convention for in-corpus queries,
    plus the top-``nprobe`` centroid clusters when ``nprobe > 1``.
    Out-of-corpus query vectors work too (their "assigned" cluster is
    simply the nearest centroid) — that case has no one-shot
    equivalent, so the parity pin covers in-corpus ids. The
    owns-itself override keys on MEMBERSHIP in the persisted centroid
    id set, not ``id < n_centroids`` (r11 advice): an out-of-corpus
    query whose id merely falls below n_centroids must assign by its
    VECTOR, never be forced to a cluster its id happens to name. Id
    collision remains the one contract the caller owns — ids are the
    join identity throughout (here and in the self-pair exclusion),
    so a query batch must not reuse an in-corpus id for a different
    vector.
    Returns (q_vec_id, rank, c_vec_id, cos_sim) like ``ivf_topk``.
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    from etl_work_flow_for_big_data_spark.functions.kernels import pairwise_cosine
    from etl_work_flow_for_big_data_spark.functions.vectors import cosine

    meta, centroids = _read_sidecars(spark, index_path)
    q_src = queries.select(F.col(id_col), F.col(vec_col))
    scored = pairwise_cosine(q_src, id_col, vec_col, centroids, mode=meta["mode"])
    assigned = _argmax_assign(scored, id_col)
    if not meta["kmeans_iters"]:
        # the build's centroid-owns-itself convention (see
        # _ivf_scored_assign) — recomputed, not joined from postings,
        # so out-of-corpus queries assign uniformly; for in-corpus ids
        # the deterministic ranking makes both routes identical. Keyed
        # on the PERSISTED centroid id set: at build time the centroids
        # are exactly the corpus rows with id < n_centroids, so for a
        # sparse-id corpus (or one smaller than n_centroids) an
        # out-of-corpus query id below n_centroids is NOT a centroid
        # and must keep its vector-nearest assignment.
        cids = [int(cid) for cid, _ in centroids]
        assigned = assigned.withColumn(
            "cluster",
            F.when(
                F.col(id_col).isin(cids) if cids else F.lit(False),
                F.col(id_col),
            ).otherwise(F.col("cluster")),
        )
    if nprobe > 1:
        probes = (
            scored.withColumn("__rn", F.row_number().over(_ivf_assign_window()))
            .filter(F.col("__rn") <= nprobe)
            .select(F.col("d1").alias(id_col), F.col("d2").alias("cluster"))
        )
        q_clusters = probes.union(assigned).distinct()
    else:
        q_clusters = assigned
    # The probe set is driver-sized by contract (query batches are
    # dim-table-sized, ≤ |queries| × (nprobe+1) rows), so it is
    # collected ONCE and re-enters the final plan as a literal local
    # relation: (a) the probe cluster ids become a static
    # partition-pruning isin on the postings read — only probed
    # directories are scanned; (b) the query-vs-centroid kernel pass
    # runs exactly once (lazily re-joining q_clusters would re-execute
    # it inside the final job).
    pairs_rows = q_clusters.collect()
    probe_ids = sorted({r["cluster"] for r in pairs_rows})
    q_assign = spark.createDataFrame(
        [(r[0], r[1]) for r in pairs_rows], q_clusters.schema
    )
    q = q_src.join(q_assign, id_col).select(
        F.col(id_col).alias("q_vec_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("cluster"),
    )
    c = (
        spark.read.schema(_postings_schema(meta))
        .parquet(f"{index_path}/postings")
        # empty probe set (empty corpus or empty query batch): a
        # literal false keeps the plan valid where isin([]) would not
        .filter(
            F.col("cluster").isin(probe_ids) if probe_ids else F.lit(False)
        )
        .select(
            F.col(meta["id_col"]).alias("c_vec_id"),
            F.col(meta["vec_col"]).alias("c_vec"),
            F.col("cluster"),
        )
    )
    pairs = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("q_vec_id") != F.col("c_vec_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
    )
    return _rank_topk(pairs, k)
