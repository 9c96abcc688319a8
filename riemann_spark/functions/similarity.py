"""Similarity search over the embeddings table (array<float> column).

- ``cosine``: exact dot/norm via sequential array folds — JVM-side
  higher-order functions, deterministic order (bit-reproducible across
  partitionings AND engines, unlike a shuffle-summed dot product).
- ``brute_force_topk``: query-set × corpus crossJoin with the query
  side broadcast, row_number top-k. The baseline — exact, O(Q·N).
- ``lsh_topk``: random-hyperplane LSH scale path: md5-derived ±1
  hyperplanes (deterministic, no stored model), sign-bit signature,
  candidates = same-bucket, exact cosine re-rank within bucket.
  At 100 TB: the bucket join replaces the crossJoin — each corpus row
  lands in one bucket, queries probe their bucket only.
- ``ivf_topk``: IVF-style alternative: coarse centroids from a
  deterministic sample, assign-to-nearest, search within cell.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from riemann_spark.operators.skew import spread_for_python


def _dots_sql(a_sql: str, b_sql: str) -> str:
    """The _dots fold as a SQL string — parses to the identical
    expression tree (same casts, same left fold, same 0.0 double
    init), in ONE py4j round trip where the Python-lambda form costs
    ~32ms of lambda/variable construction per call (r15, measured —
    the dominant plan-construction cost of the embedding lanes)."""
    return (
        f"aggregate(zip_with(cast({a_sql} as array<double>),"
        f" cast({b_sql} as array<double>), (x, y) -> x * y),"
        f" 0.0D, (acc, x) -> acc + x)"
    )


def _dots(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ as a left fold (cast to double first — float math would
    round differently per engine). Pass BOTH args as SQL strings
    (plain column names or SQL expressions) to take the parsed fast
    path — bit-identical tree, ~50x cheaper to construct."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dots_sql(a, b))
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(_dots(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return _dots(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query row.

    queries is broadcast (the small side by construction); corpus
    streams through — one scan, no shuffle until the per-query top-k
    (row_number over |Q| partitions)."""
    qa = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            norm(f"`{vec_col}`").alias("q_n"),
        )
    )
    ca = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(f"`{vec_col}`").alias("n_n"),
    )
    scored = (
        ca.crossJoin(qa)
        .filter(F.col("q_id") != F.col("n_id"))
        # norms precomputed per row, not per pair — same double sequence
        .withColumn("cos", _dots("q_vec", "n_vec") / (F.col("q_n") * F.col("n_n")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def brute_force_topk_grouped(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k per (group, query) — brute_force_topk fanned over a
    group key in ONE corpus pass: queries (broadcast) and corpus join
    on ``group_col``, so N tier variants (e.g. dim-truncation tiers,
    per-shard sub-indexes) score in a single stage instead of N
    sequential scans each with its own shuffle. The per-pair cosine
    expression is identical to brute_force_topk (norms precomputed per
    row, left-fold dot), so tier results are bit-equal to running each
    tier alone."""
    qa = F.broadcast(
        queries.select(
            F.col(group_col).alias("__g"),
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            norm(f"`{vec_col}`").alias("q_n"),
        )
    )
    ca = corpus.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(f"`{vec_col}`").alias("n_n"),
    )
    scored = (
        ca.join(qa, "__g")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cos",
            _dots("q_vec", "n_vec")
            / (F.col("q_n") * F.col("n_n")),
        )
    )
    w = Window.partitionBy("__g", "q_id").orderBy(F.desc("cos"), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__g").alias(group_col), "q_id", "n_id", "cos", "rank"
        )
    )


def plane_signs(plane: int, dim: int) -> list[float]:
    """±1 hyperplane derived from md5(plane:dim-index) — deterministic
    pseudo-random, zero model state, and identical in any engine
    (hashlib.md5 ≡ Spark md5 ≡ DuckDB md5), so oracles can replicate
    the bucketing. Computed driver-side: they are constants."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[0] >= "8" else -1.0
        for i in range(dim)
    ]


def _plane_sql(plane: int, dim: int) -> str:
    """The plane's literal sign array as SQL — ``{s}D`` parses to the
    identical DoubleType literal F.lit(s) built, in one round trip
    where the F.array(*[F.lit(s) ...]) loop cost ~dim py4j calls."""
    return "array(" + ",".join(f"{s}D" for s in plane_signs(plane, dim)) + ")"


def hyperplane_sign(vec: Column | str, plane: int, dim: int) -> Column:
    """Sign bit of ⟨vec, h_plane⟩."""
    if isinstance(vec, str):
        return F.expr(
            f"cast(({_dots_sql(vec, _plane_sql(plane, dim))}) > 0 as int)"
        )
    return (_dots(vec, F.expr(_plane_sql(plane, dim))) > 0).cast("int")


def lsh_bucket(
    vec: Column | str, n_planes: int, dim: int, plane_offset: int = 0
) -> Column:
    """n_planes sign bits → integer bucket id. ``plane_offset`` selects
    a disjoint plane family per hash table (multi-table LSH).

    Pass ``vec`` as a SQL string (plain column name) to build the
    whole bucket as ONE parsed expression — bit-identical tree
    (left-associated 0 + sign·2^p sum, same casts/literals), ~50x
    cheaper to construct than the per-plane Python loop (r15)."""
    if isinstance(vec, str):
        terms = "0"
        for p in range(n_planes):
            sign = (
                f"cast(({_dots_sql(vec, _plane_sql(plane_offset + p, dim))})"
                f" > 0 as int)"
            )
            terms = f"({terms} + ({sign} * {2 ** p}))"
        return F.expr(terms)
    out = F.lit(0)
    for p in range(n_planes):
        out = out + hyperplane_sign(vec, plane_offset + p, dim) * F.lit(2 ** p)
    return out


def embedding_near_dups(
    df: DataFrame,
    threshold: float,
    n_tables: int = 4,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed.

    Standard multi-table hyperplane LSH: ``n_tables`` independent
    plane families; a pair is a candidate if it collides in ANY table
    (OR-amplification — recall rises with tables, precision with
    planes). Candidates are generated from an (id, table, bucket)
    frame only — the 64-float vectors never ride the candidate
    shuffle; they join back by id for the exact cosine re-rank.

    Cluster shape: one narrow shuffle per distinct() on (table,
    bucket) pairs, two id-keyed joins for the re-rank. No crossJoin
    at any scale; bucket population is bounded by plane count."""
    ids = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    bands = ids.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        lsh_bucket("v", n_planes, dim, t * n_planes).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("id", "tb.table", "tb.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    # norms once per vector, not once per candidate pair — same
    # arithmetic (sqrt of the same self-fold), 3x fewer 64-step folds
    normed = ids.select("id", "v", norm("v").alias("n"))
    v1 = normed.select(
        F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("n").alias("n1")
    )
    v2 = normed.select(
        F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("n").alias("n2")
    )
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("cos", _dots("v1", "v2") / (F.col("n1") * F.col("n2")))
        .filter(F.col("cos") >= threshold)
        .select("id1", "id2", "cos")
    )


def embedding_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float,
    n_tables: int = 4,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_pairs: bool = False,
) -> DataFrame:
    """SEMANTIC eval-set leakage: training vectors within cosine ≥
    ``threshold`` of ANY eval vector — what n-gram decontamination
    (``ngram_contamination``) cannot see: paraphrases, translations,
    and template rewrites of benchmark items land next to them in
    embedding space while sharing no shingles.

    Shape is the two-table form of ``embedding_near_dups``: both
    sides band under the SAME multi-table hyperplane LSH, but the
    eval side is benchmark-sized, so its band frame AND its vectors
    broadcast — the 100 TB train side shuffles nothing (one
    bucket-equality broadcast join, candidates as (id, id) pairs,
    exact cosine re-rank by id joins). Output is one row per
    contaminated train vector: how many eval items it sits near and
    the worst cosine — the threshold-tuning report before dropping.

    ``return_pairs`` returns the gated (tid, eid, cos) pair frame
    before the per-train-vector rollup — the lineage artifact a
    pipeline stores so downstream reports aggregate without re-probing.
    """
    def _bands(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("table"),
                            lsh_bucket(
                                f"`{vec_col}`", n_planes, dim, t * n_planes
                            ).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("tb"),
        ).select(out_id, "tb.table", "tb.bucket")

    cand = (
        _bands(train, "tid")
        .join(F.broadcast(_bands(eval_df, "eid")), ["table", "bucket"])
        .select("tid", "eid")
        .distinct()
    )
    tv = train.select(
        F.col(id_col).alias("tid"), F.col(vec_col).alias("tv"),
        norm(f"`{vec_col}`").alias("tn"),
    )
    ev = F.broadcast(
        eval_df.select(
            F.col(id_col).alias("eid"), F.col(vec_col).alias("ev"),
            norm(f"`{vec_col}`").alias("en"),
        )
    )
    pairs = (
        cand.join(tv, "tid")
        .join(ev, "eid")
        .withColumn("cos", _dots("tv", "ev") / (F.col("tn") * F.col("en")))
        .filter(F.col("cos") >= threshold)
    )
    if return_pairs:
        return pairs.select("tid", "eid", "cos")
    return pairs.groupBy("tid").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_near"),
        F.max("cos").alias("max_cos"),
    ).withColumnRenamed("tid", id_col)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
    probe_depth: int = 1,
) -> DataFrame:
    """Approximate top-k: same-LSH-bucket candidates, exact re-rank.

    The corpus is bucketed once (pure projection); the join is
    bucket-equality — shuffle on a low-cardinality int key instead of
    a crossJoin. Recall is tunable via n_planes (fewer planes → bigger
    buckets → higher recall, more compute).

    ``multiprobe`` (default ON — Lv et al., VLDB 2007): each query
    ALSO probes the n_planes buckets at Hamming distance 1 from its
    own (flip one sign bit), because a near neighbor that lands just
    across one hyperplane is the dominant LSH miss mode. Measured at
    sf0.01 defaults: recall@5 0.15 single-bucket → 0.525 multiprobe.
    Cost: the QUERY side fans out ×(n_planes+1) — the corpus is still
    bucketed once, the join is still bucket-equality, and no
    candidate repeats (a corpus vector lives in exactly one bucket
    and the probe buckets are distinct). At 4 planes that scans ~5/16
    of the corpus per query — for tighter scans raise n_planes, not
    single-bucket probing. Single-bucket (multiprobe=False) remains
    the diagnostic tier ann_recall_report tracks as the floor.

    ``probe_depth=2`` additionally probes the C(n_planes, 2) buckets
    at Hamming distance 2 (flip two sign bits) — at 4 planes that is
    11 of 16 buckets (~11/16 of the corpus per query), the measured
    0.525 → 0.80 recall@5 rung of the cost curve ann_recall_report
    tracks (scan_frac column). Still query-side fan-out only: the
    corpus is bucketed once and probe buckets stay distinct, so no
    candidate repeats.

    ``probe_depth`` only has meaning under multiprobe — a depth > 1
    with multiprobe=False would silently return single-bucket results,
    so it raises instead (ADVICE r11)."""
    if probe_depth > 1 and not multiprobe:
        raise ValueError(
            "probe_depth > 1 requires multiprobe=True "
            "(single-bucket probing ignores probe_depth)"
        )
    b0 = lsh_bucket(f"`{vec_col}`", n_planes, dim)
    qa = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(f"`{vec_col}`").alias("q_n"),
        # materialize the home bucket behind a projection boundary so
        # the probe expansion reads an attribute instead of embedding
        # the n_planes-fold bucket expression once per probe
        b0.alias("bucket"),
    )
    if multiprobe:
        b = F.col("bucket")
        probes = [b] + [b.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        if probe_depth >= 2:
            probes += [
                b.bitwiseXOR(F.lit((1 << p) | (1 << q)))
                for p in range(n_planes)
                for q in range(p + 1, n_planes)
            ]
        qa = qa.select(
            "q_id",
            "q_vec",
            "q_n",
            F.explode(F.array(*probes)).alias("bucket"),
        )
    ca = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(f"`{vec_col}`").alias("n_n"),
        lsh_bucket(f"`{vec_col}`", n_planes, dim).alias("bucket"),
    )
    scored = (
        ca.join(F.broadcast(qa), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", _dots("q_vec", "n_vec") / (F.col("q_n") * F.col("n_n")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-flat: assign every vector to its nearest coarse centroid,
    search the query's nearest ``nprobe`` cells (the production
    recall knob — corpus vectors still live in exactly one cell, so
    raising nprobe multiplies only the QUERY fan-out, never the
    index size, and a candidate can never be seen twice). Default
    quantizer = first n_cells corpus vectors (deterministic,
    oracle-mirrorable); pass ``centroids`` (cell, c_vec) — e.g. from
    ``kmeans_centroids`` — for the trained production quantizer."""
    if centroids is not None:
        cent_src = centroids.select(
            "cell",
            F.col("c_vec").cast("array<double>").alias("c_vec"),
            norm("c_vec").alias("c_n"),
        )
    else:
        cent_src = corpus.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell"),
            F.col(vec_col).alias("c_vec"),
            norm(f"`{vec_col}`").alias("c_n"),
        )
    cents = F.broadcast(cent_src)

    def assign(df: DataFrame, idc: str, vecc: str, keep: int = 1) -> DataFrame:
        nc = vecc[0] + "_n"  # q_n / n_n, precomputed by the caller
        scored = spread_for_python(df).crossJoin(cents).withColumn(
            "c_cos", _dots(f"`{vecc}`", "c_vec") / (F.col(nc) * F.col("c_n"))
        )
        w = Window.partitionBy(idc).orderBy(F.desc("c_cos"), F.col("cell"))
        return (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= keep)
            .drop("r", "c_vec", "c_cos", "c_n")
        )

    qa = assign(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            norm(f"`{vec_col}`").alias("q_n"),
        ),
        "q_id",
        "q_vec",
        nprobe,
    )
    ca = assign(
        corpus.select(
            F.col(id_col).alias("n_id"),
            F.col(vec_col).alias("n_vec"),
            norm(f"`{vec_col}`").alias("n_n"),
        ),
        "n_id",
        "n_vec",
    )
    scored = (
        ca.join(F.broadcast(qa), "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", _dots("q_vec", "n_vec") / (F.col("q_n") * F.col("n_n")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def ivf_cell_assignments(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) for every corpus vector under a trained codebook —
    the corpus-side IVF assignment, expression-identical to
    ivf_topk's (cosine, descending, cell tie-break), exposed so index
    maintenance (cell-balance reports, re-bucketing jobs) shares the
    exact geometry the search path uses. Broadcast centroids × one
    corpus pass, one |corpus|-keyed window."""
    cents = F.broadcast(
        centroids.select(
            "cell",
            F.col("c_vec").cast("array<double>").alias("c_vec"),
            norm("c_vec").alias("c_n"),
        )
    )
    scored = (
        spread_for_python(
            corpus.select(
                F.col(id_col).alias("n_id"),
                F.col(vec_col).alias("n_vec"),
                norm(f"`{vec_col}`").alias("n_n"),
            )
        )
        .crossJoin(cents)
        .withColumn(
            "c_cos",
            _dots("n_vec", "c_vec")
            / (F.col("n_n") * F.col("c_n")),
        )
    )
    w = Window.partitionBy("n_id").orderBy(F.desc("c_cos"), F.col("cell"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(F.col("n_id").alias(id_col), "cell")
    )


def centroid_literals(centroid_rows) -> list:
    """Collected (cell, c_vec) rows → sorted (cell, vec, norm)
    triples for ``ivf_assign_expr``. The norm is computed with the
    IDENTICAL IEEE sequence as ``norm``'s left fold ((0.0 + x₁²) + x₂²
    + …, then sqrt), so the expression path lands bit-equal cosines
    to the join path."""
    out = []
    for r in centroid_rows:
        vec = [float(x) for x in r["c_vec"]]
        n = 0.0
        for x in vec:
            n += x * x
        out.append((int(r["cell"]), vec, math.sqrt(n)))
    return sorted(out)


def ivf_assign_expr(vec: Column, centroids: list) -> Column:
    """Nearest-centroid cell as a PURE COLUMN EXPRESSION over codebook
    literals — the ingest-time form of ``ivf_cell_assignments``. The
    window/crossJoin assignment cannot run inside a streaming append
    plan (no windows on streams), so the serve lineage's ingest leg
    needs this: cosine against each of the k broadcast-sized centroid
    literals, argmax via array_max over (cos, -cell) structs — struct
    ordering gives exactly the join path's tie-break (cos DESC, cell
    ASC). ``centroids`` is ``centroid_literals(...)`` output (the
    model artifact, k·dim floats — a literal the planner ships with
    the task, no join, no shuffle, no state).

    Exactness: per-cell cosine is the same ``_dots`` fold over the
    same doubles with the same precomputed norms, so assignments are
    bit-identical to the batch path — tested head-to-head. The query
    vector's norm is bound through a single-element transform (one
    fold per row, not one per cell)."""

    def _best(qn: Column) -> Column:
        entries = []
        for cell, cv, cn in centroids:
            cos = _dots(vec, F.array(*[F.lit(x) for x in cv])) / (
                qn * F.lit(cn)
            )
            entries.append(
                F.struct(
                    cos.alias("cos"),
                    F.lit(-cell).cast("long").alias("negcell"),
                    F.lit(cell).cast("long").alias("cell"),
                )
            )
        return F.array_max(F.array(*entries))["cell"]

    return F.get(F.transform(F.array(norm(vec)), _best), 0)


# ------------------------------------------------------------------ #
# k-means coarse quantizer (the production IVF training step)

def kmeans_centroids(
    df: DataFrame,
    k: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column → (cell,
    c_vec) centroid frame for ``ivf_topk(centroids=...)``.

    Per iteration: the k centroids (k×dim doubles — model-sized, not
    data-sized) are inlined as literal expressions, so assignment is a
    pure per-row argmin projection with ZERO shuffle of the corpus;
    re-estimation posexplodes to (cell, dim) partial sums — map-side
    combine makes that shuffle k×dim rows regardless of corpus size.
    Iterations are driver-sequenced (as in any iterative Spark
    algorithm); each pulls only the k centroid rows to the driver.
    Init = first k vectors by id (deterministic); empty cells keep
    their previous centroid. Component means use 1e-12-quantized
    integer sums (see inline note), so the trained centroids are
    BIT-REPRODUCIBLE under any partitioning — the full 5-iteration
    trainer replays exactly in the knn_ivf_kmeans SQL oracle, and a
    single-node numpy Lloyd agrees to 1e-9."""
    vecs = df.select(
        F.col(id_col).alias("v_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).localCheckpoint()
    cent_rows = [
        (i, list(r["v"]))
        for i, r in enumerate(vecs.orderBy("v_id").limit(k).collect())
    ]
    for _ in range(n_iter):
        assigned = vecs.withColumn("cell", _argmin_cell(cent_rows))
        means = {
            r["cell"]: list(r["pm"])
            for r in (
                assigned.select("cell", F.posexplode("v").alias("pos", "x"))
                .groupBy("cell", "pos")
                # component sums quantized to 1e-12 integers summed in
                # unbounded decimal: bit-identical under ANY partition
                # order (a double shuffle-sum is not), which is what
                # lets the whole 5-iteration trainer be replayed
                # exactly by the SQL oracle. Components are O(1), so
                # x*1e12 stays far below 2^53 — the round-trip is
                # lossless to within the deliberate 1e-12 grid.
                .agg(
                    F.sum(
                        F.round(F.col("x") * F.lit(1e12))
                        .cast("long")
                        .cast("decimal(38,0)")
                    ).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .groupBy("cell")
                .agg(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos",
                                (
                                    F.col("s").cast("double")
                                    / F.lit(1e12)
                                    / F.col("n")
                                ).alias("m"),
                            )
                        )
                    ).alias("pm")
                )
                .select(
                    "cell", F.transform("pm", lambda st: st["m"]).alias("pm")
                )
                .collect()
            )
        }
        # empty cells keep their previous centroid
        cent_rows = [(c, means.get(c, v)) for c, v in cent_rows]
    spark = df.sparkSession
    return spark.createDataFrame(
        [(c, v) for c, v in cent_rows], "cell int, c_vec array<double>"
    )


def _argmin_cell(cent_rows: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid cell id as a literal-folded projection."""
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        F.array(*[F.lit(float(x)) for x in vec]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                F.lit(cell).alias("cell"),
            )
            for cell, vec in cent_rows
        ]
    )
    return F.array_min(scored)["cell"]


# ------------------------------------------------------------------ #
# product quantization (IVF-PQ-style compressed search)

def _slice_structs(vec_sql: str, n_sub: int, sub_w: int, field: str) -> Column:
    """explode(array(struct(m, slice(vec, ...)))) as ONE server-side-
    parsed expression — the Python loop over F.struct/F.slice builders
    cost ~n_sub py4j round trips per plan construction (r15, the
    _ivfpq_slices lesson). The parsed tree is expression-identical:
    CreateNamedStruct of a literal m and a literal-bounds slice."""
    parts = ", ".join(
        f"struct({m} as m, slice({vec_sql}, {m * sub_w + 1}, {sub_w}) as {field})"
        for m in range(n_sub)
    )
    return F.expr(f"explode(array({parts}))")


def pq_encode(
    df: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
    with_dist: bool = False,
) -> DataFrame:
    """PQ codes: the vector splits into ``n_sub`` subvectors; each maps
    to its nearest codeword (squared L2 in the subspace) from a
    deterministic codebook (the first ``n_codes`` corpus vectors'
    slices — oracle-mirrorable like the IVF quantizer; swap in
    per-subspace k-means offline for production). A 64-float vector
    compresses to n_sub small ints — the 32x memory cut that makes
    billion-vector indexes fit executor RAM at 100 TB.

    ``with_dist`` adds ``d2q``: the winning squared-L2 residual
    quantized to a 1e-9 integer (the repo's cross-engine-exact-sum
    device) — the per-row quantization error that index-health
    reports aggregate (mean residual drift is the 'codebook no
    longer fits the data' retrain signal).

    Shape: (id, subspace, code) rows via one explode + broadcast
    codebook join + per-(id, subspace) argmin — the corpus is scanned
    once, nothing data-sized shuffles except the codes themselves."""
    sub_w = dim // n_sub
    slices = df.select(
        F.col(id_col).alias("id"),
        _slice_structs(
            f"cast(`{vec_col}` as array<double>)", n_sub, sub_w, "s"
        ).alias("x"),
    ).select("id", "x.m", "x.s")
    cb = (
        codebook
        if codebook is not None
        else pq_codebook(df, n_sub, n_codes, dim, id_col, vec_col)
    )
    # parsed expression — identical tree, one py4j round trip (r15)
    d2 = F.expr(
        "aggregate(zip_with(s, cw, (a, b) -> (a - b) * (a - b)),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("id", "m").orderBy("d2", "code")
    winners = (
        slices.join(F.broadcast(cb), "m")
        .withColumn("d2", d2)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
    )
    if with_dist:
        return winners.select(
            "id",
            "m",
            "code",
            F.round(F.col("d2") * F.lit(1e9)).cast("long").alias("d2q"),
        )
    return winners.select("id", "m", "code")


def pq_codebook(
    df: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(m, code, cw) codeword frame: slice ``m`` of the first
    ``n_codes`` vectors by id. n_sub x n_codes rows — model-sized."""
    sub_w = dim // n_sub
    base = df.filter(F.col(id_col) < n_codes).select(
        F.col(id_col).cast("int").alias("code"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    return base.select(
        "code",
        _slice_structs("v", n_sub, sub_w, "cw").alias("x"),
    ).select(F.col("x.m").alias("m"), "code", F.col("x.cw").alias("cw"))


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a
    lookup table LUT[m, code] = squared L2 between the query's m-th
    subvector and the codeword (n_sub x n_codes doubles per query —
    model-sized, broadcast); each corpus vector's approximate distance
    is the sum of its n_sub table entries. The corpus side touches
    ONLY the integer codes — the floats never leave the LUT — which
    is the entire point of PQ at scale.

    Determinism: each LUT entry quantizes to a 1e-6 integer and the
    per-vector distance SUMS INTEGERS (order-free), so the result is
    bit-identical under any partitioning and the oracle can replay it
    relationally — a plain double sum over a shuffle would not be."""
    cb = (
        codebook
        if codebook is not None
        else pq_codebook(corpus, n_sub, n_codes, dim, id_col, vec_col)
    )
    codes = pq_encode(corpus, n_sub, n_codes, dim, id_col, vec_col, cb)
    sub_w = dim // n_sub
    qs = queries.select(
        F.col(id_col).alias("q_id"),
        _slice_structs(
            f"cast(`{vec_col}` as array<double>)", n_sub, sub_w, "qsub"
        ).alias("x"),
    ).select("q_id", "x.m", "x.qsub")
    # parsed expression — identical tree, one py4j round trip (r15)
    d2 = F.expr(
        "aggregate(zip_with(qsub, cw, (a, b) -> (a - b) * (a - b)),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    lut = (
        qs.join(F.broadcast(cb), "m")
        .select(
            "q_id",
            "m",
            "code",
            F.round(d2 * F.lit(1e6)).cast("long").alias("d2q"),
        )
    )
    scored = (
        codes.withColumnRenamed("id", "n_id")
        .join(F.broadcast(lut), ["m", "code"])
        .groupBy("q_id", "n_id")
        .agg((F.sum("d2q").cast("double") / F.lit(1e6)).alias("adc_d2"))
        .filter(F.col("q_id") != F.col("n_id"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_d2", "n_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "adc_d2", "rank")
    )


def pq_topk_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int = 50,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ search shape: ADC over codes prunes the
    corpus to a per-query ``shortlist``, then ONLY those candidates'
    real vectors are fetched for an exact L2 re-rank. The full-
    precision floats are touched for shortlist x |queries| rows
    instead of the whole corpus — at 100 TB that is the difference
    between scanning the vector store and point-reading it. Recall is
    the shortlist hit rate (untrained 4-bit codebooks capture ~85% of
    the true top-5 in a 10% shortlist on the test fixture; trained
    per-subspace k-means raises it — offline concern, same plan)."""
    cand = pq_topk(
        queries, corpus, shortlist, n_sub, n_codes, dim, id_col, vec_col
    ).select("q_id", "n_id")
    qv = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    nv = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).cast("array<double>").alias("nv")
    )
    # parsed expression (r15, the _dots lesson): identical tree —
    # same zip_with squared-diff, same 0.0 double init, same left fold
    d2 = F.expr(
        "aggregate(zip_with(qv, nv, (a, b) -> (a - b) * (a - b)),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    scored = cand.join(F.broadcast(qv), "q_id").join(nv, "n_id").withColumn("d2", d2)
    w = Window.partitionBy("q_id").orderBy("d2", "n_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "d2", "rank")
    )


def _ivf_cents(corpus, n_cells, id_col, vec_col):
    """Broadcast coarse-centroid frame (cell, c_vec, c_n) — the first
    n_cells corpus vectors, ivf_topk's deterministic quantizer."""
    return F.broadcast(
        corpus.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell"),
            F.col(vec_col).cast("array<double>").alias("c_vec"),
            norm(f"`{vec_col}`").alias("c_n"),
        )
    )


def _ivf_assign(cents, df, keep, id_col, vec_col, out_id):
    """Nearest-``keep``-cells assignment with the residual vector —
    (out_id, cell, rv). Cosine + (desc, cell) tie-break, identical to
    ivf_topk's geometry.

    The row-vs-centroid fold is the compute-dense stage (|df| × cells
    64-element folds) — spread_for_python first (see its docstring)."""
    src = spread_for_python(
        df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).cast("array<double>").alias("v"),
            norm(f"`{vec_col}`").alias("vn"),
        )
    )
    scored = src.crossJoin(cents).withColumn(
        "c_cos",
        _dots("v", "c_vec") / (F.col("vn") * F.col("c_n")),
    )
    w = Window.partitionBy(out_id).orderBy(F.desc("c_cos"), F.col("cell"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= keep)
        .select(
            out_id,
            "cell",
            F.zip_with(F.col("v"), F.col("c_vec"), lambda a, b: a - b).alias(
                "rv"
            ),
        )
    )


#: super-cells probed per vector during two-level coarse assignment
#: ONCE the geometry is lake-sized (cells >= IVF_2L_MIN_CELLS): 4 of
#: ~sqrt(cells) supers cuts the assignment fold from N x cells to
#: N x (sqrt(cells) + 4·cells/sqrt(cells)) — the FAISS IMI /
#: coarse-then-refine build move for lake-scale indexes.
IVF_SUPER_FAN = 4
#: below this cell count the derived fan equals the super count, so
#: two-level assignment REDUCES TO EXACT FLAT assignment (every super
#: probed -> candidate set = every centroid -> same argmax, same
#: tie-break). Bench-SF geometries (64/256 cells) therefore keep
#: their measured recall bit-for-bit; the pruned path activates at
#: cells >= 1024 (N >~ 5.8K) where the N x cells fold is the build
#: bottleneck. Measured at the x20 probe, not assumed.
IVF_2L_MIN_CELLS = 1024


def ivf_build_fan(n_cells: int) -> int:
    """The derived super fan: full (= super count, exact flat) below
    IVF_2L_MIN_CELLS, IVF_SUPER_FAN above. Mirrored in the oracle geo
    CTE's sfan column."""
    f = ivf_super_count(n_cells)
    return f if n_cells < IVF_2L_MIN_CELLS else min(IVF_SUPER_FAN, f)
#: PQ-trainer residual sample target: FAISS's max_points_per_centroid
#: = 256 rule at 32 codes/subspace — the keyed Lloyd trains on
#: ~256 x n_codes residuals instead of the full corpus above this N
#: (sample stride = max(1, N // 8192); stride 1 at every bench SF, so
#: results there are bit-identical to full-corpus training).
IVFPQ_TRAIN_SAMPLE = 8192


def ivf_super_count(n_cells: int) -> int:
    """Super-cell count for two-level assignment: the smallest power
    of two f with f*f >= n_cells (so f ~ sqrt(cells); 8 for 64 cells,
    16 for 256, 64 for 4096). Mirrored in the oracle geo CTE."""
    f = 1
    while f * f < n_cells:
        f <<= 1
    return min(f, n_cells)


def ivf_assign_two_level(
    corpus: DataFrame,
    df: DataFrame,
    n_cells: int,
    sfan: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "n_id",
) -> DataFrame:
    """Nearest-cell assignment with residuals — (out_id, cell, rv) —
    through a TWO-LEVEL coarse quantizer (VERDICT r13 #2): the flat
    |df| x cells cosine fold grows as 16·N^1.5 once _ivfpq_geometry's
    16·sqrt(N) branch kicks in (163M folds = 288s at the x20 probe;
    ~6.5e12 at N=1e8), so the build assigns each vector to its
    ``sfan`` nearest of f ~ sqrt(cells) SUPER-cells first, then takes
    the exact nearest centroid among those supers' member centroids —
    N x (f + sfan·cells/f) folds, ~12.8x fewer at 4096 cells. The
    standard FAISS IMI/coarse-assign move, fully deterministic and
    SQL-replayable:

    - supers = the first f = ivf_super_count(cells) centroids (the
      same pick-first-rows quantizer rule the cells themselves use);
    - every centroid >= f groups under its nearest super (cos desc,
      super asc tie-break); a centroid that IS a super pins to its
      own group, so every probed super has a non-empty member list
      even under duplicate vectors (total rule);
    - a vector's candidate set is the union of its sfan supers'
      member lists; the winner is the exact cosine argmax over that
      set (desc, cell asc — the flat rule on the pruned set).

    A vector that IS centroid c still lands in cell c: its top super
    equals c's group super (identical fold, identical tie-break), so
    c itself is always a candidate and wins at cosine 1 — the
    zero-residual geometry the trainer's seed remap relies on.

    Assignment is approximate where the true cell's group falls
    outside the probed supers; the recall consequences are measured,
    not assumed (ann_recall_ivfpq at every SF + the x20 probe).
    Candidate rows shuffle NARROW ((id, cell, cos) — vectors join
    back by id after the argmax), supers/groups broadcast
    model-sized, and the dense folds ride spread_for_python like every
    other corpus x centroid stage.

    ``sfan=None`` derives the fan from the geometry (ivf_build_fan):
    below IVF_2L_MIN_CELLS it equals the super count, and the
    function short-circuits to the exact flat fold — value-identical
    by construction (all supers probed = all centroids candidates =
    the flat argmax), and the flat plan is the cheaper one there."""
    f = ivf_super_count(n_cells)
    if sfan is None:
        sfan = ivf_build_fan(n_cells)
    if sfan >= f:
        cents = _ivf_cents(corpus, n_cells, id_col, vec_col)
        return _ivf_assign(cents, df, 1, id_col, vec_col, out_id)
    cents_raw = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
        norm(f"`{vec_col}`").alias("c_n"),
    )
    sups = F.broadcast(
        corpus.filter(F.col(id_col) < f).select(
            F.col(id_col).alias("sup"),
            F.col(vec_col).cast("array<double>").alias("s_vec"),
            norm(f"`{vec_col}`").alias("s_n"),
        )
    )
    wg = Window.partitionBy("cell").orderBy(F.desc("g_cos"), F.col("sup"))
    tail = (
        cents_raw.filter(F.col("cell") >= f)
        .crossJoin(sups)
        .withColumn(
            "g_cos",
            _dots("c_vec", "s_vec")
            / (F.col("c_n") * F.col("s_n")),
        )
        .withColumn("r", F.row_number().over(wg))
        .filter(F.col("r") == 1)
        .select("cell", "c_vec", "c_n", F.col("sup").alias("grp"))
    )
    head = cents_raw.filter(F.col("cell") < f).select(
        "cell", "c_vec", "c_n", F.col("cell").alias("grp")
    )
    gt = F.broadcast(head.unionByName(tail))
    src = spread_for_python(
        df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).cast("array<double>").alias("v"),
            norm(f"`{vec_col}`").alias("vn"),
        )
    )
    ws = Window.partitionBy(out_id).orderBy(F.desc("s_cos"), F.col("sup"))
    vsup = (
        src.crossJoin(sups)
        .withColumn(
            "s_cos",
            _dots("v", "s_vec") / (F.col("vn") * F.col("s_n")),
        )
        .withColumn("r", F.row_number().over(ws))
        .filter(F.col("r") <= sfan)
        .select(out_id, "v", "vn", "sup")
    )
    cand = (
        vsup.join(gt, F.col("sup") == F.col("grp"))
        .withColumn(
            "c_cos",
            _dots("v", "c_vec") / (F.col("vn") * F.col("c_n")),
        )
        .select(out_id, "cell", "c_cos")
    )
    wb = Window.partitionBy(out_id).orderBy(F.desc("c_cos"), F.col("cell"))
    best = (
        cand.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select(out_id, "cell")
    )
    return (
        best.join(src.select(out_id, "v"), out_id)
        .join(gt.select("cell", "c_vec"), "cell")
        .select(
            out_id,
            "cell",
            F.zip_with(F.col("v"), F.col("c_vec"), lambda a, b: a - b).alias(
                "rv"
            ),
        )
    )


def _ivfpq_slices(df, idc, n_sub, sub_w):
    """(id, cell, m, s) residual subvector rows.

    The explode column is ONE server-side-parsed F.expr instead of a
    Python loop over 64 F.struct/F.slice builders: the loop cost
    ~1.3s of py4j round trips PER PLAN CONSTRUCTION (r15, measured —
    the dominant builder cost of every ivfpq_scored consumer). The
    parsed tree is expression-identical (CreateNamedStruct of a
    literal m and a literal-bounds slice, same order), so plans and
    values are unchanged."""
    parts = ", ".join(
        f"struct({m} as m, slice(rv, {m * sub_w + 1}, {sub_w}) as s)"
        for m in range(n_sub)
    )
    return df.select(
        idc,
        "cell",
        F.expr(f"explode(array({parts}))").alias("x"),
    ).select(idc, "cell", "x.m", "x.s")


def _pq_d2(sub_w):
    """Squared L2 between slice ``s`` and codeword ``cw``. For small
    fixed widths the sum expands to a codegen-able expression tree
    (identical left-fold IEEE sequence — 0.0 + (a₁-b₁)² + …); the
    interpreted higher-order fold costs ~an order of magnitude more
    per row and the encode evaluates it |corpus|·m·codes times."""
    if sub_w <= 4:
        d2 = F.lit(0.0)
        for i in range(1, sub_w + 1):
            diff = F.element_at("s", i) - F.element_at("cw", i)
            d2 = d2 + diff * diff
        return d2
    # parsed form of the fold below — identical tree, one py4j call
    # instead of ~32ms of lambda construction (r15)
    return F.expr(
        "aggregate(zip_with(s, cw, (a, b) -> (a - b) * (a - b)),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def ivfpq_encode(
    corpus: DataFrame,
    n_cells: int = 16,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
    two_level: bool = False,
) -> DataFrame:
    """The IVF-PQ INDEX table (n_id, cell, m, code): coarse-assign
    every corpus vector (``two_level=True`` routes the N x cells fold
    through ivf_assign_two_level — the lake-scale build path; the
    flat default keeps the small-geometry ablations bit-stable),
    PQ-encode its residual against the (seeded
    or trained) codebook. This is the artifact a production pipeline
    MATERIALIZES — ingest encodes once, every query reads the integer
    code table (ivfpq_scored's ``codes`` parameter); the floats never
    leave the codebook. Nearest codeword picks by min(struct(d2,
    code)) — partial-aggregatable, no |corpus|·m·codes window
    shuffle; tie-break (d2 asc, code asc) matches the oracle's
    row_number form."""
    sub_w = dim // n_sub
    if two_level:
        ca = ivf_assign_two_level(
            corpus, corpus, n_cells, id_col=id_col, vec_col=vec_col,
            out_id="n_id",
        )
    else:
        cents = _ivf_cents(corpus, n_cells, id_col, vec_col)
        ca = _ivf_assign(cents, corpus, 1, id_col, vec_col, "n_id")
    if codebook is not None:
        cb = codebook.select(
            "m", F.col("code").cast("int").alias("code"), "cw"
        )
    else:
        cb = _ivfpq_slices(
            ca.filter(
                (F.col("n_id") >= n_cells)
                & (F.col("n_id") < n_cells + n_codes)
            ),
            "n_id",
            n_sub,
            sub_w,
        ).select(
            "m",
            (F.col("n_id") - n_cells).cast("int").alias("code"),
            F.col("s").alias("cw"),
        )
    return (
        _ivfpq_slices(ca, "n_id", n_sub, sub_w)
        .join(F.broadcast(cb), "m")
        .withColumn("d2", _pq_d2(sub_w))
        .groupBy("n_id", "cell", "m")
        .agg(F.min(F.struct("d2", "code")).alias("best"))
        .select("n_id", "cell", "m", F.col("best.code").alias("code"))
    )


def ivfpq_seeded_codebook(
    corpus: DataFrame,
    n_cells: int = 16,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    two_level: bool = False,
) -> DataFrame:
    """The deterministic STATIC residual codebook (m, code, cw) —
    residual slices of the n_codes corpus vectors AFTER the centroid
    block (ids n_cells .. n_cells + n_codes - 1; a centroid
    self-assigns with residual exactly zero, which would collapse
    every codeword).  Assignment is row-wise vs the broadcast
    centroid table, so the corpus is restricted to the n_codes seed
    rows BEFORE assigning — with an injected code table this is the
    only corpus-side work on a serve path, and it stays model-sized
    (ADVICE r12).  Factored out of ivfpq_scored/ivfpq_topk so
    multi-tier consumers (ivfpq_scored_multi) can pass the seed
    codebook explicitly next to a trained one."""
    sub_w = dim // n_sub
    seeds = corpus.filter(
        (F.col(id_col) >= n_cells) & (F.col(id_col) < n_cells + n_codes)
    )
    if two_level:
        assigned = ivf_assign_two_level(
            corpus, seeds, n_cells, id_col=id_col, vec_col=vec_col,
            out_id="n_id",
        )
    else:
        cents = _ivf_cents(corpus, n_cells, id_col, vec_col)
        assigned = _ivf_assign(cents, seeds, 1, id_col, vec_col, "n_id")
    return _ivfpq_slices(
        assigned,
        "n_id",
        n_sub,
        sub_w,
    ).select(
        "m",
        (F.col("n_id") - n_cells).cast("int").alias("code"),
        F.col("s").alias("cw"),
    )


def ivfpq_scored_multi(
    queries: DataFrame,
    corpus: DataFrame,
    tiers: list,
    n_cells: int = 16,
    n_sub: int = 8,
    dim: int = 64,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC scores for SEVERAL stored (codebook, code-table) pairs in
    ONE job — (tier, q_id, n_id, adc_d2).  ``tiers`` is a list of
    (tag, codebook_frame, codes_frame); every tier shares the SAME
    coarse geometry, so the query-side work that dominates a
    multi-tier audit (per-query cell assignment + residual slicing)
    runs once, each tier contributes only its model-sized LUT join,
    and the per-cell code scans ride one union-tagged shuffle instead
    of one full job per tier (VERDICT r12 #3 — ann_recall_ivfpq's
    seeded-ablation tier was a second full ADC job every run).

    Bit-identical to per-tier ivfpq_scored, with one physical-plan
    difference: instead of materializing and broadcasting the full
    |Q|·nprobe·m·codes LUT (the dominant fixed cost as nprobe grows
    with the corpus-derived geometry), the model-sized codebook and
    the |Q|·nprobe·m query-slice table broadcast, and each ADC entry
    d2q = round(d2(s, cw)·1e6) evaluates AT the (cell, m) join row —
    the same deterministic expression of the same (s, cw) inputs the
    LUT would have held, so every summed integer is bit-equal."""
    if not tiers:
        raise ValueError(
            "ivfpq_scored_multi needs at least one (tag, codebook, codes)"
            " tier — all tiers share one coarse geometry, so an empty"
            " list has no ADC frame to build"
        )
    sub_w = dim // n_sub
    cents = _ivf_cents(corpus, n_cells, id_col, vec_col)
    d2 = _pq_d2(sub_w)
    qa = _ivf_assign(cents, queries, nprobe, id_col, vec_col, "q_id")
    sl = _ivfpq_slices(qa, "q_id", n_sub, sub_w)
    joined = None
    for tag, cb, codes in tiers:
        cbx = cb.select(
            "m", F.col("code").cast("int").alias("code"), "cw"
        )
        t = (
            codes.join(F.broadcast(cbx), ["m", "code"])
            .join(F.broadcast(sl), ["cell", "m"])
            .filter(F.col("q_id") != F.col("n_id"))
            .select(
                F.lit(tag).alias("tier"),
                "q_id",
                "n_id",
                F.round(d2 * F.lit(1e6)).cast("long").alias("d2q"),
            )
        )
        joined = t if joined is None else joined.unionByName(t)
    return joined.groupBy("tier", "q_id", "n_id").agg(
        (F.sum("d2q").cast("double") / F.lit(1e6)).alias("adc_d2")
    )


def ivfpq_scored(
    queries: DataFrame,
    corpus: DataFrame,
    n_cells: int = 16,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """The IVF-PQ ADC frame (q_id, n_id, adc_d2) BEFORE any top-k —
    factored out of ivfpq_topk so consumers measuring multiple
    serving shapes (ann_recall_ivfpq's raw + rerank tiers) build the
    index ONCE and derive every tier from the same scored frame.
    See ivfpq_topk for the full design docstring.

    IVF-PQ composed index — the production billion-vector
    architecture (coarse quantizer prunes to ``nprobe`` cells, product
    quantization compresses what's left): every corpus vector is
    assigned to its nearest coarse cell (cosine — ivf_topk's exact
    geometry), its RESIDUAL against the cell centroid is PQ-encoded
    with ONE global codebook (the residual slices of corpus vectors
    ``n_cells <= id < n_cells + n_codes`` — deterministic like
    pq_encode's seed, but never a centroid: a centroid self-assigns
    with residual exactly zero, which would collapse every codeword
    to the zero vector and the ADC to a constant; swap in
    pq_kmeans_codebook over residuals offline), and a query scans
    only the codes of its ``nprobe`` nearest cells via the ADC lookup
    table built from ITS residual in each probed cell. The residual
    argument for IVF-PQ (within a cell residuals span a smaller ball
    than raw vectors, so the same bits quantize finer) holds in full
    only with a TRAINED residual codebook; with this deterministic
    seeded one, measured recall@5 vs brute force is 0.20 (sf0.001) /
    0.275 (sf0.01) — above the 0.15 coarse-pruning-only floor, below
    ivf_topk's full-precision 0.90, the honest price of 4-bit codes.
    ann_recall_ivfpq tracks this number every round.

    Search cost at scale: nprobe/n_cells of the code table (integer
    codes only — the floats never leave the model-sized LUT), against
    pq_topk's full-corpus ADC and ivf_topk's full-precision cell
    scan. The cell-partitioned code table is the layout the lake
    should store (streaming_ivf_assign routes arrivals to cells at
    ingest for exactly this reason).

    Determinism: LUT entries quantize to 1e-6 integers and per-vector
    distances SUM INTEGERS (pq_topk's device), residuals are the same
    elementwise a−b both engines, so the oracle replays the whole
    index relationally.

    ``codes`` injects a precomputed (n_id, cell, m, code) index table
    (ivfpq_encode's output, stored as pipeline state) — the serve
    path then touches only the query side: assignment of |Q| rows,
    the model-sized LUT, and the code-table join."""
    sub_w = dim // n_sub
    cents = _ivf_cents(corpus, n_cells, id_col, vec_col)

    # global residual codebook: residual slices of the n_codes corpus
    # vectors AFTER the centroid block (ids n_cells..n_cells+n_codes-1)
    # — model-sized (n_sub x n_codes rows). Seeding from ids < n_codes
    # would pick the centroids themselves, whose residuals are exactly
    # zero (they self-assign at cos=1), degenerating every codeword.
    if codebook is not None:
        # TRAINED residual codebook (ivfpq_train_codebook) — same
        # (m, code, cw) shape, drops into the identical encode/LUT
        cb = codebook.select(
            "m", F.col("code").cast("int").alias("code"), "cw"
        )
    else:
        cb = ivfpq_seeded_codebook(
            corpus, n_cells, n_sub, n_codes, dim, id_col, vec_col
        )
    d2 = _pq_d2(sub_w)
    if codes is None:
        codes = ivfpq_encode(
            corpus, n_cells, n_sub, n_codes, dim, id_col, vec_col, codebook
        )

    qa = _ivf_assign(cents, queries, nprobe, id_col, vec_col, "q_id")
    # ADC without materializing the |Q|·nprobe·m·codes LUT (the
    # dominant fixed cost once nprobe scales with the corpus-derived
    # geometry): broadcast the model-sized codebook and the
    # |Q|·nprobe·m query-slice table, and evaluate each entry
    # d2q = round(d2(s, cw)·1e6) AT the (cell, m) join row — the same
    # deterministic expression of the same (s, cw) inputs the LUT
    # would have held, so every summed integer is bit-equal to the
    # LUT formulation the oracle replays.
    sl = _ivfpq_slices(qa, "q_id", n_sub, sub_w)
    scored = (
        codes.join(F.broadcast(cb), ["m", "code"])
        .join(F.broadcast(sl), ["cell", "m"])
        .filter(F.col("q_id") != F.col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(
            (
                F.sum(F.round(d2 * F.lit(1e6)).cast("long")).cast("double")
                / F.lit(1e6)
            ).alias("adc_d2")
        )
    )
    return scored


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Top-k over the IVF-PQ ADC frame (ivfpq_scored — the full
    design docstring lives there): raw integer-sum ADC order by
    default; with ``rerank`` = N, exact cosine re-ranks the
    N-candidate ADC shortlist (the FAISS IVFPQ+refine posture) so
    the 4-bit quantization error picks candidates but never decides
    the final order."""
    scored = ivfpq_scored(
        queries, corpus, n_cells, n_sub, n_codes, dim, nprobe,
        id_col, vec_col, codebook,
    )
    if not rerank:
        w = Window.partitionBy("q_id").orderBy("adc_d2", "n_id")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "adc_d2", "rank")
        )
    return ivfpq_rerank_from_scored(
        scored, queries, corpus, k, rerank, id_col, vec_col
    )


def ivfpq_rerank_from_scored(
    scored: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    rerank: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-rank of an ADC shortlist: the integer-code scan
    nominates ``rerank`` candidates per query, then ONLY those
    |q|×rerank pairs read full vectors for exact cosine — the
    compressed scan stays cell-pruned, quantization error stops
    deciding the final order. Takes the scored frame so a consumer
    can derive raw-ADC and reranked tiers from ONE index build."""
    w = Window.partitionBy("q_id").orderBy("adc_d2", "n_id")
    short = (
        scored.withColumn("srank", F.row_number().over(w))
        .filter(F.col("srank") <= rerank)
        .select("q_id", "n_id")
    )
    qv = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        norm(f"`{vec_col}`").alias("q_n"),
    )
    nv = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).cast("array<double>").alias("n_vec"),
        norm(f"`{vec_col}`").alias("n_n"),
    )
    exact = (
        short.join(nv, "n_id")
        .join(F.broadcast(qv), "q_id")
        .withColumn(
            "cos",
            _dots("q_vec", "n_vec")
            / (F.col("q_n") * F.col("n_n")),
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("n_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def ivfpq_train_codebook(
    corpus: DataFrame,
    n_cells: int = 16,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    two_level: bool = False,
    sample_mod: int = 1,
) -> DataFrame:
    """TRAINED residual codebook for the composed IVF-PQ index: the
    corpus's residuals against the fixed coarse quantizer (the first
    n_cells vectors, ivfpq_topk's exact geometry) feed the keyed
    Lloyd PQ trainer (pq_kmeans_codebook — one cluster job per
    iteration, model-sized driver traffic).

    Lake-scale build knobs (VERDICT r13 #2), both defaulting OFF so
    the small-geometry ablation oracles stay bit-stable:
    ``two_level=True`` computes the residual assignment through
    ivf_assign_two_level instead of the flat N x cells fold;
    ``sample_mod=s`` trains the Lloyd on the deterministic systematic
    sample {rid % s == 0} UNION {the n_codes seed rids} instead of
    every residual — the FAISS max-points-per-centroid discipline
    (IVFPQ_TRAIN_SAMPLE). s = 1 trains on everything (bit-identical
    to the unsampled path); callers derive s from the corpus count.
    The sample rule keys on the REMAPPED rid (dense, post-centroid
    block), so the oracle replays it with one modulus predicate; at
    deploy with sparse ids you'd mod a hash instead. Residual ids are REMAPPED
    so the trainer's deterministic seed (ids < n_codes) lands on the
    vectors AFTER the centroid block — the same seed ivfpq_topk uses
    statically, so iteration 0 reproduces the seeded codebook exactly
    and every iteration after it strictly refines within-cell
    quantization. The centroids' own zero residuals are pushed past
    id 10^9 where they can never seed (the r11 degenerate-codebook
    lesson, applied to the trainer). Returns the (m, code, cw) frame
    ivfpq_topk's ``codebook`` parameter accepts; training replays in
    the knn_ivfpq_trained oracle via the same 1e-12-quantized means
    as the flat-PQ trainer."""
    rid = (
        F.when(F.col("n_id") >= n_cells, F.col("n_id") - n_cells)
        .otherwise(F.col("n_id") + F.lit(1_000_000_000))
        .alias("rid")
    )
    if two_level:
        resid = ivf_assign_two_level(
            corpus, corpus, n_cells, id_col=id_col, vec_col=vec_col,
            out_id="n_id",
        ).select(rid, "rv")
    else:
        c = spread_for_python(
            corpus.select(
                F.col(id_col).alias("n_id"),
                F.col(vec_col).cast("array<double>").alias("n_vec"),
                norm(f"`{vec_col}`").alias("n_n"),
            )
        )
        cents = F.broadcast(
            corpus.filter(F.col(id_col) < n_cells).select(
                F.col(id_col).alias("cell"),
                F.col(vec_col).cast("array<double>").alias("c_vec"),
                norm(f"`{vec_col}`").alias("c_n"),
            )
        )
        scored = c.crossJoin(cents).withColumn(
            "c_cos",
            _dots("n_vec", "c_vec")
            / (F.col("n_n") * F.col("c_n")),
        )
        w = Window.partitionBy("n_id").orderBy(F.desc("c_cos"), F.col("cell"))
        resid = (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select(
                rid,
                F.zip_with(
                    F.col("n_vec"), F.col("c_vec"), lambda a, b: a - b
                ).alias("rv"),
            )
        )
    if sample_mod > 1:
        resid = resid.filter(
            (F.col("rid") < n_codes) | (F.col("rid") % sample_mod == 0)
        )
    return pq_kmeans_codebook(
        resid, n_sub, n_codes, dim, n_iter, id_col="rid", vec_col="rv"
    )


def _pq_slices(
    df: DataFrame, n_sub: int, dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, m, s) subvector rows — shared by encode and the trainer."""
    sub_w = dim // n_sub
    return df.select(
        F.col(id_col).alias("id"),
        _slice_structs(
            f"cast(`{vec_col}` as array<double>)", n_sub, sub_w, "s"
        ).alias("x"),
    ).select("id", "x.m", "x.s")


def pq_kmeans_codebook(
    df: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """TRAINED per-subspace PQ codebooks — all ``n_sub`` k-means runs
    as ONE keyed Lloyd (the subspace rides the grouping key, so the
    cluster never sequences more than ``n_iter`` jobs regardless of
    n_sub): assignment joins the model-sized codebook frame
    (n_sub x n_codes rows, broadcast), re-estimation is a
    (m, code, d) grouped mean over 1e-12-quantized integer sums —
    bit-reproducible under any partitioning, so the whole training
    replays in the knn_pq_trained SQL oracle exactly like the IVF
    trainer's. Empty codes keep their previous codeword. Per
    iteration the driver pulls n_sub x n_codes x sub_w doubles (the
    model), nothing data-sized."""
    sub_w = dim // n_sub
    slices = _pq_slices(df, n_sub, dim, id_col, vec_col).localCheckpoint()
    spark = df.sparkSession
    cb = pq_codebook(df, n_sub, n_codes, dim, id_col, vec_col)
    cb_rows = {(r["m"], r["code"]): list(r["cw"]) for r in cb.collect()}
    d2 = F.aggregate(
        F.zip_with(F.col("s"), F.col("cw"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for _ in range(n_iter):
        cb_df = spark.createDataFrame(
            [(m, c, v) for (m, c), v in sorted(cb_rows.items())],
            "m int, code int, cw array<double>",
        )
        w = Window.partitionBy("id", "m").orderBy("d2", "code")
        assigned = (
            slices.join(F.broadcast(cb_df), "m")
            .withColumn("d2", d2)
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("id", "m", "code", "s")
        )
        means = {
            (r["m"], r["code"]): list(r["cw"])
            for r in (
                assigned.select("m", "code", F.posexplode("s").alias("d", "x"))
                .groupBy("m", "code", "d")
                .agg(
                    F.sum(
                        F.round(F.col("x") * F.lit(1e12))
                        .cast("long")
                        .cast("decimal(38,0)")
                    ).alias("sx"),
                    F.count(F.lit(1)).alias("n"),
                )
                .groupBy("m", "code")
                .agg(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "d",
                                (
                                    F.col("sx").cast("double")
                                    / F.lit(1e12)
                                    / F.col("n")
                                ).alias("mu"),
                            )
                        )
                    ).alias("pm")
                )
                .select("m", "code", F.transform("pm", lambda st: st["mu"]).alias("cw"))
                .collect()
            )
        }
        cb_rows = {k: means.get(k, v) for k, v in cb_rows.items()}
    return spark.createDataFrame(
        [(m, c, v) for (m, c), v in sorted(cb_rows.items())],
        "m int, code int, cw array<double>",
    )


# ------------------------------------------------------------------ #
# binary sign quantization + Hamming search

def sign_pack32(vec: Column, start: int) -> Column:
    """Pack the sign bits of 32 components (1-based ``start`` slice)
    into one long: bit i set iff component > 0. 2^i built from
    pow(2.0, i) — exact in a double through 2^31, identical in any
    engine; no shift builtins needed."""
    comps = F.slice(vec.cast("array<double>"), start, 32)
    bits = F.zip_with(
        comps,
        F.sequence(F.lit(0), F.lit(31)),
        lambda x, i: F.when(x > 0, F.pow(F.lit(2.0), i).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, x: a + x)


def sign_quantize(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """64-dim float vector → two 32-bit sign words (1 bit/component,
    256x smaller than float32): the binary-quantization tier below
    int8 (embedding_quantize). Pure projection, zero shuffle."""
    v = F.col(vec_col)
    return df.select(
        F.col(id_col),
        sign_pack32(v, 1).alias("b_lo"),
        sign_pack32(v, 33).alias("b_hi"),
    )


def hamming_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by Hamming distance over sign-quantized vectors — the
    standard binary-ANN first pass (a good cosine proxy for mean-
    centered embeddings; rerank survivors with exact cosine when
    precision matters). Same plan as brute_force_topk but each
    comparison is two XOR+popcounts on longs instead of a 64-term
    float fold — the scan is integer-ALU bound, and the quantized
    corpus table is what you'd materialize at 100 TB (512 GB of codes
    per trillion vectors instead of 128 TB of floats)."""
    qa = F.broadcast(
        sign_quantize(queries, id_col, vec_col)
        .withColumnsRenamed({id_col: "q_id", "b_lo": "q_lo", "b_hi": "q_hi"})
    )
    ca = sign_quantize(corpus, id_col, vec_col).withColumnsRenamed(
        {id_col: "n_id", "b_lo": "n_lo", "b_hi": "n_hi"}
    )
    scored = (
        ca.crossJoin(qa)
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "hamming",
            (
                F.bit_count(F.col("q_lo").bitwiseXOR(F.col("n_lo")))
                + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("n_hi")))
            ).cast("long"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("hamming", "n_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "hamming", "rank")
    )


# ---------------------------------------------------- PCA (power it.)

def covariance_rows(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple:
    """(means list, (i, j, m) covariance frame) over an embedding
    column, both
    stages on the 1e-12-quantized integer-sum grid (the
    kmeans_centroids discipline) so every entry is BIT-REPRODUCIBLE
    under any partitioning: means first (quantized), then
    C_ij = Σ round((x_i−μ_i)(x_j−μ_j)·1e12) / 1e12 / n.

    Scale shape: the mean pass shuffles dim rows; the covariance pass
    explodes dim² terms per vector but partial-aggregates map-side,
    so the shuffle carries dim² rows TOTAL (model-sized) regardless
    of corpus size — O(n·d²) work, O(d²) traffic, the classical
    dense-PCA cost. For dim beyond a few hundred you'd switch to a
    sketched/randomized method; at embedding dims this is exact and
    cheap."""
    vecs = df.select(F.col(vec_col).cast("array<double>").alias("v"))
    mu_rows = (  # model-sized collect: dim rows

        vecs.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(
            (
                F.sum(
                    F.round(F.col("x") * F.lit(1e12))
                    .cast("long")
                    .cast("decimal(38,0)")
                ).cast("double")
                / F.lit(1e12)
                / F.count(F.lit(1))
            ).alias("m")
        )
        .collect()
    )
    mu = [r["m"] for r in sorted(mu_rows, key=lambda r: r["d"])]
    mu_lit = F.array(*[F.lit(m) for m in mu])
    centered = vecs.select(
        F.zip_with("v", mu_lit, lambda x, m: x - m).alias("c")
    )
    pairs = centered.select(
        F.posexplode("c").alias("i", "xi"), F.col("c")
    ).select(
        "i", F.posexplode("c").alias("j", "xj"), F.col("xi")
    )
    cov = pairs.groupBy("i", "j").agg(
        (
            F.sum(
                F.round(F.col("xi") * F.col("xj") * F.lit(1e12))
                .cast("long")
                .cast("decimal(38,0)")
            ).cast("double")
            / F.lit(1e12)
            / F.count(F.lit(1))
        ).alias("m")
    )
    return mu, cov


def power_iteration(cov: dict, dim: int, n_iter: int = 10) -> tuple:
    """Top eigenvector by ``n_iter`` power iterations over a collected
    (model-sized) covariance dict {(i, j): m}. Every fold is an
    explicit LEFT fold in ascending index order starting at 0.0 —
    the exact IEEE sequence the SQL oracle's ``list_reduce(...ORDER
    BY...)`` replays — and the init is the deterministic uniform
    unit vector (1/sqrt(dim) per component, exact for power-of-two
    dims). Returns (eigenvector list, eigenvalue estimate ‖Cv‖)."""
    v = [1.0 / math.sqrt(float(dim))] * dim
    lam = 0.0
    for _ in range(n_iter):
        w = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc = acc + cov[(i, j)] * v[j]
            w.append(acc)
        acc = 0.0
        for i in range(dim):
            acc = acc + w[i] * w[i]
        lam = math.sqrt(acc)
        v = [w[i] / lam for i in range(dim)]
    return v, lam
