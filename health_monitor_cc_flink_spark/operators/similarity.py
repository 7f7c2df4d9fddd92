"""Similarity search over embedding columns (array<float>).

Vector math uses built-in higher-order functions (`zip_with` +
`aggregate`) — JVM-side, sequential left-to-right accumulation, which
keeps the arithmetic deterministic.  The brute-force path is the
correctness baseline; the IVF path (coarse partition pruning) is the
scale path: at 100 TB you bucket vectors by a coarse quantizer, store
bucket id as a partition/cluster column, and probe only the closest
buckets — turning a full scan into a partition-pruned one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (double accumulator)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- shared ANN building blocks ----------------------------------------------
# One definition each for the four stages every IVF/PQ variant composes;
# keeping them single-source prevents the drift this file once had (the
# deterministic cell tiebreak existed in some probes but not others).


def _fit_kmeans_cells(emb: DataFrame, n_cells: int, seed: int,
                      id_col: str, vec_col: str):
    """Fit the KMeans coarse quantizer and assign every vector its cell.
    Returns (assigned df with a `cell` column, centroid lists)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="features", predictionCol="cell"
    ).fit(feat)
    assigned = model.transform(feat).select(id_col, vec_col, "cell")
    cents = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, cents


def _centroids_df(spark, cents) -> DataFrame:
    return _small_df(
        spark,
        {"cell": list(range(len(cents))), "centroid": cents},
        "cell int, centroid array<double>",
    )


def _write_centroids(spark, cents, path: str) -> None:
    _centroids_df(spark, cents).coalesce(1).write.mode("overwrite").parquet(
        path.rstrip("/") + "_centroids"
    )


def _rank_cells(centroids: DataFrame, q: Column, n_probe: int,
                cell_col: str = "cell") -> DataFrame:
    """Top-``n_probe`` cells by centroid cosine — the cell-id tiebreak
    keeps the probed set deterministic when centroid cosines tie."""
    return (
        centroids.select(cell_col, cosine(F.col("centroid"), q).alias("ccos"))
        .orderBy(F.desc("ccos"), F.asc(cell_col))
        .limit(n_probe)
    )


def _exact_topk(cand: DataFrame, q: Column, k: int,
                id_col: str, vec_col: str) -> DataFrame:
    """Exact cosine top-k over a candidate relation (id tiebreak)."""
    return (
        cand.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _adc_rerank(scored: DataFrame, emb: DataFrame, q: Column, k: int,
                rerank: int, id_col: str, vec_col: str) -> DataFrame:
    """ADC top-``rerank`` candidates → exact-cosine re-rank to top-``k``
    (broadcast semi-join on id: constant rows regardless of corpus size)."""
    cand = (
        scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(rerank).select(id_col)
    )
    return _exact_topk(
        emb.join(F.broadcast(cand), id_col, "left_semi"), q, k, id_col, vec_col
    )


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    Plans as scan → narrow projection → TakeOrderedAndProject: no
    shuffle of vectors, only k rows reach the driver.  The unique id
    tiebreak makes the result set deterministic.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = emb.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    n_probe: int = 1,
) -> DataFrame:
    """IVF-style ANN: treat ``bucket_col`` as the coarse quantizer cell
    (here the pre-assigned cluster label; in production the argmin
    centroid id).  Probe the ``n_probe`` cells whose centroid is closest
    to the query, searching only those cells.

    Centroids are computed per-dimension with posexplode + avg — a tiny
    aggregate (n_cells × dim rows).  The probed scan is
    partition-prunable when the table is written partitioned/bucketed by
    the cell id — the point of IVF at scale.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    cent = (
        emb.select(bucket_col, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(bucket_col, "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy(bucket_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(bucket_col, F.expr("transform(pc, x -> x.c)").alias("centroid"))
    )
    probed = _rank_cells(cent, q, n_probe, cell_col=bucket_col)
    cand = emb.join(F.broadcast(probed.select(bucket_col)), on=bucket_col)
    return _exact_topk(cand, q, k, id_col, vec_col)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key.

    The block join (here the cluster label; at scale an LSH bucket or
    coarse-quantizer cell) bounds the pairwise explosion to within-block
    pairs — the standard trick that makes O(n²) similarity feasible.
    Output: (vec_a, vec_b, cos_sim) for pairs ≥ threshold.
    """
    # norms are computed ONCE per vector, before the join — inside the
    # pair projection each side's norm would be re-evaluated per partner
    # (O(pairs·dim) instead of O(n·dim) transcendental work).  The pair
    # expression dot/(na·nb) is the same IEEE op sequence as before, so
    # results are bit-identical.
    a = emb.select(
        F.col(block_col),
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    b = emb.select(
        F.col(block_col),
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, on=block_col)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def kmeans_ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a learned coarse quantizer (pyspark.ml KMeans).

    Build side: fit KMeans(n_cells) on the vectors, assign every vector
    its cell id (at scale: write the table partitioned by cell).
    Probe side: rank cells by centroid cosine to the query, scan only the
    top ``n_probe`` cells.  Deterministic for a fixed seed.
    """
    assigned, cents = _fit_kmeans_cells(emb, n_cells, seed, id_col, vec_col)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    probed = _rank_cells(_centroids_df(emb.sparkSession, cents), q, n_probe)
    cand = assigned.join(F.broadcast(probed.select("cell")), on="cell")
    return _exact_topk(cand, q, k, id_col, vec_col)


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build a *persisted* IVF index: fit the coarse quantizer, assign
    every vector its cell, and write the table ``partitionBy("cell")``
    so the probe scan gets **physical partition pruning** (the scan
    plans `PartitionFilters: [cell IN (...)]` and never opens the other
    cells' files).  Centroids land next to the data at
    ``<path>_centroids``.

    This is the at-scale layout `kmeans_ivf_topk` only simulates: at
    100 TB the pruned scan is the difference between reading n_probe/
    n_cells of the table and reading all of it.
    """
    assigned, cents = _fit_kmeans_cells(emb, n_cells, seed, id_col, vec_col)
    assigned.write.partitionBy("cell").mode("overwrite").parquet(path)
    _write_centroids(emb.sparkSession, cents, path)


def probe_ivf_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index: rank cells by centroid cosine on the
    driver (n_cells rows — tiny), then scan only those cells.  The cell
    list is resolved *before* planning, so the parquet source prunes
    partitions statically — check ``.explain`` for ``PartitionFilters``.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    centroids = spark.read.parquet(path.rstrip("/") + "_centroids")
    probed = _rank_cells(centroids, q, n_probe).collect()
    cells = [int(r["cell"]) for r in probed]
    scan = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    return _exact_topk(scan, q, k, id_col, vec_col)


def hyperplane_signs(n_bits: int, dim: int, salt: str = "") -> list[list[int]]:
    """The md5-parity ±1 hyperplane sign matrix — the ONE source of truth
    for every consumer of the construction (the LSH bucket expression,
    the L-table variants, and the JL random projection via salt='jl_');
    an edit to the parity rule here reaches all of them and their
    embedded oracle constants."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{salt}{j}_{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(dim)
        ]
        for j in range(n_bits)
    ]


def hyperplane_bucket_expr(
    vec_col: str,
    n_bits: int = 16,
    dim: int = 64,
    salt: str = "",
) -> str:
    """The hyperplane-LSH signature as ONE whole-stage-codegen SQL
    expression (see hyperplane_lsh_bucket).  ``salt`` prefixes the md5
    key (``md5(salt + j + '_' + i)``) so independent hash TABLES can be
    derived from the same construction — the standard LSH recall lever
    (OR over L tables); salt='' is the production single-table index."""
    signs = hyperplane_signs(n_bits, dim, salt)
    s_lit = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{v}L" for v in row) + ")" for row in signs
        )
        + ")"
    )
    return f"""
      aggregate(sequence(0, {n_bits - 1}), CAST(0 AS BIGINT), (acc, j) ->
        acc + IF(
          aggregate(sequence(0, {dim - 1}), CAST(0 AS BIGINT), (a, i) ->
            a + CAST(floor(CAST(element_at({vec_col}, i + 1) AS DOUBLE) * 1000) AS BIGINT)
                * element_at(element_at({s_lit}, j + 1), i + 1)
          ) > 0,
          shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))
    """


def hyperplane_lsh_bucket(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_bits: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH signature per vector (SimHash for cosine
    space): bit j = sign(⟨v, h_j⟩) where hyperplane h_j has deterministic
    ±1 components derived from md5(j_i) hex-digit parity — the same
    construction an oracle can re-derive with SQL md5.

    Scale design: vectors are quantized to integer milli-units
    (floor(vᵢ·1000)), so every dot product is exact int64 math —
    order-insensitive and engine-portable.  The whole signature is ONE
    whole-stage-codegen expression (nested `aggregate` over
    `sequence`): no shuffle, no join, no UDF; n_bits×dim ≈ 1k fused
    multiply-adds per row.  Vectors sharing a bucket are cosine-ANN
    candidates; at 100 TB the bucket id becomes a partition column (same
    layout as the persisted IVF index).
    """
    bucket = hyperplane_bucket_expr(vec_col, n_bits=n_bits, dim=dim)
    return df.select(F.col(id_col), F.expr(bucket).alias(f"bucket{n_bits}"))


def norm2_milli(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact squared L2 norm in integer milli-units (Σ floor(vᵢ·1000)²):
    a single codegen'd expression, no shuffle; the order-insensitive
    integer analog of `norm` for oracle-exact pipelines.  ``carry_cols``
    ride along from the same scan — never re-join what one projection
    can carry."""
    expr = f"""
      aggregate(sequence(0, {dim - 1}), CAST(0 AS BIGINT), (a, i) ->
        a + CAST(floor(CAST(element_at({vec_col}, i + 1) AS DOUBLE) * 1000) AS BIGINT)
          * CAST(floor(CAST(element_at({vec_col}, i + 1) AS DOUBLE) * 1000) AS BIGINT))
    """
    return df.select(
        F.col(id_col), *[F.col(c) for c in carry_cols], F.expr(expr).alias("norm2_milli")
    )


# --- Product quantization (the memory-compression half of IVF-PQ) -----------
#
# At 100 TB of float32 embeddings, even the IVF-pruned cells are too big
# to scan as raw vectors; PQ stores each vector as M uint8 codes (here
# 8 bytes vs 256 bytes for 64 float32s) and scores candidates with a
# per-query lookup table (ADC) — no decompression, no vector shuffle.
# Training touches only a bounded deterministic sample (a model-build
# step, like the IVF coarse quantizer); encoding and scoring are
# embarrassingly parallel mapInPandas passes over Arrow batches.


def pq_train_codebook(
    emb,
    m: int = 8,
    n_centroids: int = 16,
    n_train: int = 2048,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train per-subspace centroids with seeded Lloyd iterations on the
    deterministic sample of the ``n_train`` lowest ids (bounded driver
    round-trip — the quantizer is a model artifact, not data).  Vectors
    are L2-normalized first so ADC's L2 ordering matches cosine.
    Returns an (M, n_centroids, D/M) float64 ndarray."""
    import numpy as np

    rows = (
        emb.select(id_col, vec_col).orderBy(id_col).limit(n_train).collect()
    )
    x = np.array([list(map(float, r[1])) for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n, d = x.shape
    assert d % m == 0, (d, m)
    sub = d // m
    rng = np.random.RandomState(42)
    codebook = np.empty((m, n_centroids, sub), dtype=np.float64)
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        cent = xs[rng.choice(n, size=n_centroids, replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_centroids):
                mask = assign == c
                if mask.any():
                    cent[c] = xs[mask].mean(axis=0)
        codebook[j] = cent
    return codebook


def pq_encode(
    emb,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
):
    """Encode vectors to M uint8 codes (stored as array<int>): one
    Arrow-batched mapInPandas pass, codebook shipped in the closure
    (M·K·D/M floats — trivially broadcastable).  ``carry_cols`` ride
    through the encode from the same scan (e.g. the IVF cell id) so the
    caller never has to re-join the corpus to recover them."""
    import numpy as np

    m, k, sub = codebook.shape
    carry = tuple(carry_cols)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # vstack over the Arrow-backed column: each cell is already a
            # float ndarray/list — np.vstack is ~20× the per-row
            # list(map(float, ...)) conversion this loop used to do
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(x), m), dtype=np.int64)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                d2 = ((xs[:, None, :] - codebook[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            out = {id_col: pdf[id_col].values, "codes": list(codes)}
            for c in carry:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    # id and carry columns keep their ACTUAL types (hardcoding `int`
    # truncated bigint ids and broke string carries outright; a string id
    # column — e.g. doc URIs — must survive the encode too)
    id_type = emb.schema[id_col].dataType.simpleString()
    carry_schema = "".join(
        f", {c} {emb.schema[c].dataType.simpleString()}" for c in carry
    )
    return emb.select(id_col, vec_col, *carry).mapInPandas(
        encode, schema=f"{id_col} {id_type}, codes array<long>{carry_schema}"
    )


def _small_df(spark, data: dict, schema: str):
    """createDataFrame via pandas/Arrow for tiny model artifacts — the
    plain-list path parallelizes across every core and pays one Python
    worker launch per slice (~10 s for 128 rows on local[32]); the Arrow
    path is a single exchange (<1 s)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(data), schema)


def _write_codebook(spark, codebook, path: str) -> None:
    """Persist an (M, K, D/M) PQ codebook as the <path>_codebook table."""
    m, k, _sub = codebook.shape
    jj = [j for j in range(m) for _ in range(k)]
    cc = [c for _ in range(m) for c in range(k)]
    _small_df(
        spark,
        {
            "j": jj,
            "c": cc,
            "centroid": [[float(x) for x in codebook[j][c]] for j, c in zip(jj, cc)],
        },
        "j int, c int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path.rstrip("/") + "_codebook")


def _load_codebook(spark, path: str):
    """Read <path>_codebook back into an (M, K, D/M) ndarray."""
    import numpy as np

    rows = spark.read.parquet(path.rstrip("/") + "_codebook").collect()
    m = max(r["j"] for r in rows) + 1
    k = max(r["c"] for r in rows) + 1
    sub = len(rows[0]["centroid"])
    codebook = np.empty((m, k, sub), dtype=np.float64)
    for r in rows:
        codebook[r["j"]][r["c"]] = [float(x) for x in r["centroid"]]
    return codebook


def _adc_lut(codebook, query_vec):
    """L2-normalized query → per-subspace squared-distance LUT (M, K)."""
    import numpy as np

    m, k, sub = codebook.shape
    q = np.array([float(v) for v in query_vec], dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    lut = np.empty((m, k), dtype=np.float64)
    for j in range(m):
        lut[j] = ((codebook[j] - q[j * sub : (j + 1) * sub][None, :]) ** 2).sum(axis=1)
    return lut


def pq_adc_topk(
    emb,
    query_vec,
    k: int = 10,
    m: int = 8,
    n_centroids: int = 16,
    rerank: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """PQ ANN: train → encode → ADC top-``rerank`` → exact cosine
    re-rank to top-``k``.  The ADC pass gathers per-subspace distances
    from a query-specific LUT (M×K doubles in the closure) — compressed
    codes only, never raw vectors; the exact re-rank touches just the
    ``rerank`` candidate vectors (semi-join on id)."""
    import numpy as np

    from pyspark.sql import functions as F

    codebook = pq_train_codebook(emb, m=m, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(emb, codebook, id_col=id_col, vec_col=vec_col)
    lut = _adc_lut(codebook, query_vec)
    scored = _pq_adc_scores(codes, lut, id_col=id_col)
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    return _adc_rerank(scored, emb, qcol, k, rerank, id_col, vec_col)


def _pq_adc_scores(codes, lut, id_col: str = "vec_id"):
    """ADC scoring over a PQ codes table: per-row gather-and-sum from the
    query-specific (M, K) LUT shipped in the closure — codes only, never
    raw vectors."""
    import numpy as np

    m = lut.shape[0]

    def adc(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.stack(pdf["codes"].values).astype(np.int64)
            dist = lut[np.arange(m)[None, :], c].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].values, "adc_dist": dist})

    # id keeps its actual type — same bug class as pq_encode's carry fix
    id_type = codes.schema[id_col].dataType.simpleString()
    return codes.mapInPandas(adc, schema=f"{id_col} {id_type}, adc_dist double")


def pq_build_index(
    emb: DataFrame,
    path: str,
    m: int = 8,
    n_centroids: int = 16,
    n_train: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build a *persisted* PQ index: train the codebook once (bounded
    deterministic sample), encode the whole corpus once, and write both
    artifacts — the codes table at ``path`` and the codebook at
    ``<path>_codebook``.  The train-once / encode-once split the one-shot
    ``pq_adc_topk`` demo lacks: at 100 TB the corpus encode is the
    expensive pass, and every subsequent query is an ADC scan over 8-byte
    codes plus a constant-size re-rank — the same artifact discipline as
    ``build_ivf_index`` / ``probe_ivf_index``.
    """
    codebook = pq_train_codebook(
        emb, m=m, n_centroids=n_centroids, n_train=n_train,
        id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(emb, codebook, id_col=id_col, vec_col=vec_col)
    codes.write.mode("overwrite").parquet(path)
    _write_codebook(emb.sparkSession, codebook, path)


def pq_probe_index(
    spark,
    path: str,
    emb: DataFrame,
    query_vec,
    k: int = 10,
    rerank: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted PQ index: rebuild the (M, K) LUT from the stored
    codebook (M·K rows — a bounded model artifact, like the IVF centroid
    read), ADC-score the codes table, then exact-cosine re-rank the
    top-``rerank`` candidates against the raw vectors (broadcast semi-join
    on id — a constant number of rows regardless of corpus size)."""
    lut = _adc_lut(_load_codebook(spark, path), query_vec)
    codes = spark.read.parquet(path)
    scored = _pq_adc_scores(codes, lut, id_col=id_col)
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    return _adc_rerank(scored, emb, qcol, k, rerank, id_col, vec_col)


# --- IVF-PQ: the full at-scale ANN composition ------------------------------
#
# IVF alone prunes WHICH files are scanned (partition layout); PQ alone
# compresses WHAT is scanned (8-byte codes).  Production billion-vector
# indexes (FAISS IVF-PQ and its descendants) compose both: the probe
# reads only the probed cells' partitions, and those partitions hold
# codes, not raw vectors — so a 100 TB float corpus probes as a few GB
# of code scan plus a constant-size exact re-rank.


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 8,
    n_centroids: int = 16,
    n_train: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build the composed index: KMeans coarse cells + per-vector PQ
    codes, written ``partitionBy("cell")`` so a probe is a statically
    partition-pruned scan of 8-byte codes.  Artifacts: codes table at
    ``path`` (cell-partitioned), coarse centroids at ``<path>_centroids``,
    PQ codebook at ``<path>_codebook``.  One KMeans fit (bounded), one
    codebook train (bounded sample), one encode pass over the corpus."""
    assigned, cents = _fit_kmeans_cells(emb, n_cells, seed, id_col, vec_col)
    codebook = pq_train_codebook(
        emb, m=m, n_centroids=n_centroids, n_train=n_train, id_col=id_col, vec_col=vec_col
    )
    # the cell id rides THROUGH the encode (carry_cols) — one pass over the
    # corpus, no re-transform, no corpus-sized join to recover the cell
    codes = pq_encode(assigned, codebook, id_col=id_col, vec_col=vec_col, carry_cols=("cell",))
    codes.write.partitionBy("cell").mode("overwrite").parquet(path)
    spark = emb.sparkSession
    _write_centroids(spark, cents, path)
    _write_codebook(spark, codebook, path)


def probe_ivfpq_index(
    spark,
    path: str,
    emb: DataFrame,
    query_vec,
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the composed index: rank cells by coarse-centroid cosine on
    the driver (n_cells rows), scan ONLY those cells' code partitions
    (static partition pruning — `PartitionFilters` in the plan), ADC-score
    the codes, exact-cosine re-rank the top-``rerank`` against raw
    vectors.  Work per query: |probed cells| of code scan + a
    constant-size re-rank, independent of corpus size."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    centroids = spark.read.parquet(path.rstrip("/") + "_centroids")
    probed = _rank_cells(centroids, q, n_probe).collect()
    cells = [int(r["cell"]) for r in probed]
    lut = _adc_lut(_load_codebook(spark, path), query_vec)
    codes = spark.read.parquet(path).filter(F.col("cell").isin(cells)).select(id_col, "codes")
    scored = _pq_adc_scores(codes, lut, id_col=id_col)
    return _adc_rerank(scored, emb, q, k, rerank, id_col, vec_col)


def int8_quantize(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the standard 4x
    memory cut vector stores apply ahead of IVF/PQ at corpus scale:
    scale = max|v| / 127, code_i = floor(v_i / scale + 0.5) (the
    half-up rounding both engines compute identically, unlike banker's
    rounding).  PURE codegen higher-order array math, zero shuffle.

    Returns scalar quantization statistics per vector (the driver
    gate's canonicalizer needs scalar columns): n_dims, scale,
    code_sum / code_min / code_max, and n_saturated (|code| = 127 —
    the outlier-clipping diagnostic that decides when per-block scales
    are needed instead)."""
    absmax = F.array_max(
        F.transform(vec_col, lambda v: F.abs(v))
    ).cast("double")
    scale = absmax / F.lit(127.0)
    codes = F.transform(
        vec_col,
        lambda v: F.when(
            scale > 0, F.floor(v.cast("double") / scale + F.lit(0.5))
        ).otherwise(F.lit(0)).cast("long"),
    )
    return df.select(
        F.col(id_col),
        F.size(vec_col).cast("long").alias("n_dims"),
        scale.alias("scale"),
        F.aggregate(codes, F.lit(0).cast("long"),
                    lambda acc, c: acc + c).alias("code_sum"),
        F.array_min(codes).alias("code_min"),
        F.array_max(codes).alias("code_max"),
        F.size(F.filter(codes, lambda c: F.abs(c) == 127))
        .cast("long").alias("n_saturated"),
    )


def int8_codes(df: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, scale, codes array<long>) — the int8 quantization itself
    (same scale/rounding as :func:`int8_quantize`), kept as an array
    for downstream integer-dot search."""
    absmax = F.array_max(
        F.transform(vec_col, lambda v: F.abs(v))
    ).cast("double")
    scale = absmax / F.lit(127.0)
    codes = F.transform(
        vec_col,
        lambda v: F.when(
            scale > 0, F.floor(v.cast("double") / scale + F.lit(0.5))
        ).otherwise(F.lit(0)).cast("long"),
    )
    return df.select(
        F.col(id_col), scale.alias("scale"), codes.alias("codes")
    )


def int8_topk(df: DataFrame, k: int = 5, n_queries: int = 4,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Brute-force top-k over INT8-quantized vectors — the search half
    of the scalar-quantization axis: integer dot products (EXACT in
    both engines, so the gate hashes them directly) rescaled by the
    per-vector scales for ranking.  The first ``n_queries`` ids probe
    the whole corpus; self-matches excluded; ties broken by vec_id.

    Scale shape: the quantized query side is a broadcast cross join
    (n_queries rows); scoring is a codegen'd zip_with/aggregate fold
    over 8-byte codes — a quarter of the float traffic at 100 TB —
    and the only shuffle is the per-query top-k window."""
    from pyspark.sql import Window

    c = int8_codes(df, id_col, vec_col)
    q = c.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("scale").alias("q_scale"),
        F.col("codes").alias("q_codes"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "int_dot",
            F.aggregate(
                F.zip_with("q_codes", "codes", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn(
            "approx_sim",
            (F.col("q_scale") * F.col("scale"))
            * F.col("int_dot").cast("double"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("rank").cast("long").alias("rank"),
            F.col(id_col), "int_dot", "approx_sim",
        )
    )


def build_ivf_int8_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persisted IVF index over INT8-QUANTIZED vectors — the actual
    100 TB serving shape: the coarse quantizer gives static partition
    pruning (scan opens n_probe/n_cells of the files) and scalar
    quantization cuts the stored payload 4x (codes as tinyint array +
    one float scale per vector; raw floats are never written).
    Centroids land next to the data at ``<path>_centroids``."""
    assigned, cents = _fit_kmeans_cells(emb, n_cells, seed, id_col, vec_col)
    codes = int8_codes(assigned, id_col, vec_col).withColumnRenamed(
        id_col, "_id8"
    )
    packed = (
        assigned.select(id_col, "cell")
        .join(codes, F.col(id_col) == F.col("_id8"))
        .select(
            id_col, "cell", "scale",
            F.transform("codes", lambda c: c.cast("tinyint")).alias("codes"),
        )
    )
    packed.write.partitionBy("cell").mode("overwrite").parquet(path)
    _write_centroids(emb.sparkSession, cents, path)


def probe_ivf_int8_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted int8 IVF index: rank cells by centroid cosine
    on the driver (n_cells rows), quantize the QUERY with the same
    symmetric scheme (driver-side, it is one vector), scan only the
    probed cells, score by integer code dot products rescaled by
    q_scale*scale, exact top-k with id tiebreak.  The scan reads
    tinyint codes — a quarter of the float bytes — and the plan prunes
    partitions statically (``PartitionFilters: [cell IN ...]``)."""
    q = [float(v) for v in query_vec]
    q_absmax = max(abs(v) for v in q)
    q_scale = q_absmax / 127.0
    q_codes = [
        int((v / q_scale + 0.5) // 1) if q_scale > 0 else 0 for v in q
    ]
    centroids = spark.read.parquet(path.rstrip("/") + "_centroids")
    qcol = F.array(*[F.lit(v) for v in q])
    probed = _rank_cells(centroids, qcol, n_probe).collect()
    cells = [int(r["cell"]) for r in probed]
    scan = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    qc = F.array(*[F.lit(c).cast("long") for c in q_codes])
    scored = scan.select(
        F.col(id_col),
        F.aggregate(
            F.zip_with(qc, F.col("codes"),
                       lambda a, b: a * b.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("int_dot"),
        F.col("scale"),
    ).withColumn(
        "approx_sim",
        F.lit(q_scale) * F.col("scale") * F.col("int_dot").cast("double"),
    )
    return (
        scored.orderBy(F.desc("approx_sim"), F.asc(id_col))
        .limit(k)
        .select(id_col, "int_dot", "approx_sim")
    )
