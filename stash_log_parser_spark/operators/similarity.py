"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — brute-force exact top-k: JVM-side dot products
  (zip_with + aggregate, codegen'd), broadcast query set, per-query
  window top-k. The correctness baseline; O(n·q) but embarrassingly
  parallel and shuffle-free until the final top-k.
* :func:`lsh_topk` — the scale path: random-hyperplane (sign) LSH
  bucketing; candidates = rows sharing a bucket with the query in any of
  ``tables`` independent hash tables, exact cosine re-rank on candidates
  only. Recall tunes with tables × hyperplanes.
* :func:`embedding_near_dup_pairs` — near-duplicate detection by cosine
  over LSH-bucketed candidate pairs.

Hyperplanes are seeded numpy constants — deterministic across runs
and engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stash_log_parser_spark.operators.textstats import round6
from stash_log_parser_spark.session import materialize


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column, b: Column) -> Column:
    return _dot(a, b) / F.greatest(_norm(a) * _norm(b), F.lit(1e-12))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (broadcast the queries)."""
    from pyspark.sql import Window

    j = embeddings.join(F.broadcast(queries))
    scored = j.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine_expr(F.col(vec_col), F.col(query_vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    return np.random.RandomState(seed).normal(size=(n_planes, dim))


def _empty_topk(
    embeddings: DataFrame, queries: DataFrame, id_col: str, query_id_col: str
) -> DataFrame:
    """Typed empty top-k result — the shape every ANN operator returns.
    Used for the empty-query (or empty-table) edge so the driver-side
    numpy kernels are never fed a zero-row matrix (round-2 advice: that
    crashed with a shape error instead of returning empty)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, embeddings.schema[id_col].dataType),
            T.StructField("cosine", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    return embeddings.sparkSession.createDataFrame([], schema)


def with_lsh_buckets(
    embeddings: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    tables: int = 2,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach (table, bucket) LSH keys — one output row per (row, table).

    ONE Arrow-vectorized ``mapInArrow`` stage computes every table's
    bucket per row with a single numpy matmul (rows × dim @ dim ×
    (tables·planes) → signs → bucket ints). No explode, no groupBy, and
    NO Exchange anywhere in bucket assembly; embarrassingly parallel at
    any scale. Chosen after measurement: a pure-Catalyst form spent
    ~70 µs per (row, table) in interpreted higher-order-function eval
    (HOFs don't codegen); BLAS does the same arithmetic ~100× faster.

    Passenger columns pass through as untouched Arrow buffers; the
    output is the input batch repeated once per table with (table,
    bucket) appended."""
    from pyspark.sql import types as T

    planes_t = np.vstack(
        [_hyperplanes(dim, n_planes, seed + t) for t in range(tables)]
    ).T  # (dim, tables·planes)
    pow2 = (2 ** np.arange(n_planes)).astype(np.int64)
    out_schema = T.StructType(
        list(embeddings.schema.fields)
        + [T.StructField("table", T.IntegerType()), T.StructField("bucket", T.LongType())]
    )

    def assign(batches):
        import pyarrow as pa

        for b in batches:
            col = b.column(b.schema.get_field_index(vec_col))
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            v = flat.reshape(b.num_rows, dim)
            bits = (v @ planes_t) > 0
            buckets = (bits.reshape(b.num_rows, tables, n_planes) * pow2).sum(
                axis=2
            ).astype(np.int64)
            passengers = [b.column(i) for i in range(b.num_columns)]
            names = [f.name for f in b.schema] + ["table", "bucket"]
            for t in range(tables):
                yield pa.RecordBatch.from_arrays(
                    passengers
                    + [
                        pa.array(np.full(b.num_rows, t, dtype=np.int32)),
                        pa.array(buckets[:, t]),
                    ],
                    names=names,
                )

    return embeddings.mapInArrow(assign, schema=out_schema)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    tables: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket with the query in
    at least one table; exact cosine re-rank on candidates only.

    The query set is collected to the driver (a k-NN query set is small
    by definition — it is broadcast anyway) and its buckets are computed
    with the same numpy kernel as the data side, saving a second Python
    stage per lookup."""
    from pyspark.sql import Window

    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        return _empty_topk(embeddings, queries, id_col, query_id_col)
    e = with_lsh_buckets(embeddings, dim, n_planes, tables, seed, vec_col)
    planes_t = np.vstack(
        [_hyperplanes(dim, n_planes, seed + t) for t in range(tables)]
    ).T
    pow2 = (2 ** np.arange(n_planes)).astype(np.int64)
    qv = np.array([r[1] for r in qrows], dtype=np.float64)
    bits = (qv @ planes_t) > 0
    qbuckets = (bits.reshape(len(qrows), tables, n_planes) * pow2).sum(axis=2)
    from pyspark.sql import types as T

    # query-id type follows the caller's frame (ids are not always longs)
    q_schema = T.StructType(
        [
            T.StructField("table", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField("_qv", T.ArrayType(T.DoubleType())),
        ]
    )
    q = queries.sparkSession.createDataFrame(
        [
            (int(t), int(qbuckets[i, t]), r[0], [float(x) for x in r[1]])
            for i, r in enumerate(qrows)
            for t in range(tables)
        ],
        q_schema,
    )
    cand = e.join(F.broadcast(q), on=["table", "bucket"], how="inner")
    # score BEFORE deduplicating: the dedup exchange then carries only
    # (query_id, id, cosine) — the vectors never enter any shuffle,
    # neither as key nor as payload (duplicate bucket hits of the same
    # pair produce identical cosines, so dropDuplicates is safe after).
    # ONE explicit exchange on query_id serves both the dedup aggregate
    # (clustering on a subset of its keys) and the rank window.
    scored = (
        cand.select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), F.col("_qv")), 6).alias("cosine"),
        )
        .repartition(query_id_col)
        .dropDuplicates([query_id_col, id_col])
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def with_ivf_cells(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    with_cosines: bool = False,
) -> DataFrame:
    """Attach the IVF cell id: argmax cosine over ``centroids`` (n_cells × dim).

    One Arrow-vectorized ``mapInArrow`` stage — a single numpy matmul per
    batch against the L2-normalized centroid matrix (argmax over
    dot(v, c/|c|) ≡ argmax over cosine since |v| is constant per row).
    Shuffle-free, embarrassingly parallel; ties break toward the lowest
    cell id (np.argmax first-occurrence), matching the oracle's
    ``ORDER BY cos DESC, cid ASC`` tie-break.

    ``with_cosines=True`` additionally emits ``cos6: array<double>`` —
    the round6-quantized cosine of the row vector to EVERY centroid,
    computed from the same matmul (``dot / greatest(|v|·|c|, 1e-12)``
    then ``floor(x·1e6 + 0.5)/1e6`` — the exact ``cosine_expr`` +
    ``round6`` recipe, so downstream consumers see the same quantized
    values the JVM expression produces up to sub-round6 summation-order
    ulps, which the 6-decimal quantization absorbs). This exists because
    building n_cells literal-centroid cosine expressions driver-side
    costs seconds of py4j traffic + codegen per query while the kernel
    already holds the full similarity matrix; at any scale it is one
    extra ``8·n_cells`` bytes per row out of a shuffle-free stage. The
    argmax (cell assignment) is computed from the NORMALIZED-centroid
    matmul exactly as before — adding cosines cannot move assignments."""
    from pyspark.sql import types as T

    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    cn_t = cn.T.copy()  # (dim, n_cells)
    dim = centroids.shape[1]
    extra = [T.StructField("cell", T.IntegerType())]
    if with_cosines:
        extra.append(T.StructField("cos6", T.ArrayType(T.DoubleType())))
    out_schema = T.StructType(list(embeddings.schema.fields) + extra)
    vec_name = vec_col
    c_t = centroids.T.copy()  # (dim, n_cells), unnormalized
    c_norm = np.linalg.norm(centroids, axis=1)  # (n_cells,)

    def assign(batches):
        import pyarrow as pa

        for b in batches:
            col = b.column(b.schema.get_field_index(vec_name))
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            v = flat.reshape(b.num_rows, dim)
            cells = np.argmax(v @ cn_t, axis=1).astype(np.int32)
            arrays = [b.column(i) for i in range(b.num_columns)] + [pa.array(cells)]
            names = [f.name for f in b.schema] + ["cell"]
            if with_cosines:
                dots = v @ c_t  # (rows, n_cells)
                v_norm = np.sqrt(np.einsum("ij,ij->i", v, v))
                den = np.maximum(v_norm[:, None] * c_norm[None, :], 1e-12)
                cos6 = np.floor(dots / den * 1e6 + 0.5) / 1e6
                n_cells = cos6.shape[1]
                offsets = pa.array(
                    np.arange(0, (b.num_rows + 1) * n_cells, n_cells, dtype=np.int32)
                )
                arrays.append(
                    pa.ListArray.from_arrays(offsets, pa.array(cos6.ravel()))
                )
                names.append("cos6")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return embeddings.mapInArrow(assign, schema=out_schema)


def kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic distributed Lloyd iterations for the IVF coarse
    quantizer (closes the round-2 IOU: "on a real corpus the centroid
    matrix would come from a k-means fit").

    Init = the first ``n_cells`` vectors by ``id_col`` (seeded and
    order-stable). Each iteration: (1) assign every vector to its
    argmax-cosine centroid via the existing Arrow matmul kernel — the
    payload is scanned, never shuffled; (2) recompute centroids as the
    per-cell MEAN through one narrow Catalyst aggregation (count + dim
    column sums — map-side partials make the shuffle n_cells×partitions
    rows of 8·dim bytes, independent of corpus size); (3) ROUND the new
    centroids to 6 decimals. The rounding is what makes the fit
    engine-portable: after it, Spark and a SQL mirror hold bit-identical
    centroid matrices, so the remaining cross-engine risk is a float
    sum landing within ~1e-10 of a rounding boundary — vanishing for
    non-dyadic embedding data (and caught by the oracle if it ever
    fires). Empty cells keep their previous centroid.

    At 10^12 rows each iteration is one full scan; a production fit
    would run the same loop on a fixed sample, which changes nothing
    about the plan shape here."""
    cents = embeddings.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    if not cents:
        return np.zeros((0, 0))
    C = np.array([r[0] for r in cents], dtype=np.float64)
    dim = C.shape[1]
    vec_d = F.col(vec_col).cast("array<double>")
    # rounding happens JVM-side: F.round ↔ DuckDB round is the
    # repo's proven cross-engine pair (np.round is banker's and
    # scales differently at the ulp level); the Column list is
    # identical every iteration (only the centroid matrix inside the
    # Arrow kernel changes), so build its ~5·dim py4j expression calls
    # once, not once per iteration
    mean_cols = [
        F.round(F.sum(F.get(vec_d, i)) / F.count("*"), 6).alias(f"m{i}")
        for i in range(dim)
    ]
    for _ in range(iters):
        e = with_ivf_cells(embeddings.select(id_col, vec_col), C, vec_col)
        means = e.groupBy("cell").agg(*mean_cols).collect()
        newC = C.copy()
        for r in means:
            newC[r["cell"]] = [r[f"m{i}"] for i in range(dim)]
        C = newC
    return C


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    kmeans_iters: int = 0,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    The scale path complementary to :func:`lsh_topk`: every vector is
    assigned to its nearest of ``n_cells`` centroids (one narrow int
    column — the 100-TB payload is scanned once and never shuffled);
    each query probes its ``nprobe`` nearest cells and re-ranks the
    cells' members by exact cosine. Recall tunes with nprobe/n_cells;
    at nprobe = n_cells it degrades gracefully to exact brute force.

    With ``kmeans_iters=0`` centroids are a deterministic sample — the
    first ``n_cells`` vectors by ``id_col`` — so the operator (and its
    SQL oracle twin) is fully reproducible with no iteration state.
    ``kmeans_iters>0`` runs that many seeded Lloyd iterations instead
    (:func:`kmeans_centroids` — still deterministic and SQL-mirrorable;
    the plan shape assign → probe → re-rank is identical either way).
    """
    from pyspark.sql import Window

    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:  # before the (multi-scan) fit — nothing to answer
        return _empty_topk(embeddings, queries, id_col, query_id_col)
    if kmeans_iters > 0:
        C = kmeans_centroids(embeddings, n_cells, kmeans_iters, id_col, vec_col)
    else:
        cents = (
            embeddings.orderBy(id_col)
            .limit(n_cells)
            .select(id_col, vec_col)
            .collect()
        )
        C = np.array([r[1] for r in cents], dtype=np.float64)  # (n_cells, dim)
    if C.size == 0:
        return _empty_topk(embeddings, queries, id_col, query_id_col)
    e = with_ivf_cells(embeddings, C, vec_col)

    # query-side probing runs driver-side on the (tiny, broadcast-bound)
    # query set with the same normalized-centroid kernel
    cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    qv = np.array([r[1] for r in qrows], dtype=np.float64)
    order = np.argsort(-(qv @ cn.T), axis=1, kind="stable")[:, :nprobe]
    from pyspark.sql import types as T

    q_schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField("_qv", T.ArrayType(T.DoubleType())),
        ]
    )
    q = queries.sparkSession.createDataFrame(
        [
            (int(order[i, p]), r[0], [float(x) for x in r[1]])
            for i, r in enumerate(qrows)
            for p in range(order.shape[1])
        ],
        q_schema,
    )
    # candidates = members of any probed cell; a query's nprobe cells are
    # disjoint, so (query_id, vec_id) pairs are already unique — no dedup
    # exchange needed (unlike LSH's overlapping tables).
    cand = e.join(F.broadcast(q), on="cell", how="inner")
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine_expr(F.col(vec_col).cast("array<double>"), F.col("_qv")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x|/127``,
    ``code_i = clamp(round(x_i/scale), ±127)``. The 100-TB ANN memory
    lever — codes cost 1/4 the bytes of float32 (1/8 of the float64
    compute form), so candidate re-rank scans move 4-8× less data and
    the integer dot products vectorize. Deterministic and expressed in
    portable arithmetic (round-half-away + exact int ops), so the whole
    quantizer is SQL-mirrorable. Output: (id, scale, codes)."""
    v = F.col(vec_col).cast("array<double>")
    scale = (
        F.greatest(F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12))
        / 127.0
    ).alias("scale")
    q = embeddings.select(F.col(id_col), scale, v.alias("_v"))
    codes = F.transform(
        "_v",
        lambda x: F.least(
            F.greatest(F.round(x / F.col("scale")), F.lit(-127.0)), F.lit(127.0)
        ).cast("int"),
    )
    return q.select(id_col, "scale", codes.alias("codes"))


def int8_knn(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k by QUANTIZED inner product: both sides are
    int8-quantized, candidates score ``round(dot(codes_a, codes_q) ·
    scale_a · scale_q, 6)`` — an exact-integer dot (≤ dim·127² ≪ 2^53,
    no float accumulation noise) times two scales in one fixed-order
    multiply, so Spark and the SQL mirror agree bit-for-bit after
    rounding. The scan-side relation carries only (id, scale, codes):
    the float payload never enters the join."""
    from pyspark.sql import Window

    e8 = quantize_int8(embeddings, id_col, vec_col)
    q8 = quantize_int8(queries, query_id_col, query_vec_col).select(
        F.col(query_id_col),
        F.col("scale").alias("_qscale"),
        F.col("codes").alias("_qcodes"),
    )
    j = e8.join(F.broadcast(q8))
    dot8 = F.aggregate(
        F.zip_with("codes", "_qcodes", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = j.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(dot8 * F.col("scale") * F.col("_qscale"), 6).alias("approx_ip"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("approx_ip"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def auto_n_planes(n_rows: int, floor_planes: int = 10) -> int:
    """Corpus-scaled LSH plane count: ceil(log2(n)) - 3 targets ~2^3 = 8
    expected entries per bucket under a uniform hash, floored at
    ``floor_planes`` so tiny corpora keep a sane key width. 10^12 rows →
    37 planes (1.4e11 buckets/table) — bucket occupancy, and therefore
    the banded self-join's per-bucket cost, stays O(1) as the corpus
    grows instead of O(n/2^planes)."""
    import math

    return max(floor_planes, math.ceil(math.log2(max(n_rows, 2))) - 3)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    cosine_threshold: float = 0.95,
    dim: int = 64,
    n_planes: int | None = None,
    tables: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 1000,
    cap_metrics: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH-bucketed candidates.

    The banded self-join runs on a NARROW (table, bucket, id) relation —
    the tables×-amplified bucket entries never carry the vector payload.
    Vectors re-attach to the deduplicated candidate PAIRS by two id-keyed
    joins (payload moves once per side, as join *value*, never as a
    shuffle key).

    Scale levers (round-3 verdict fix — a FIXED plane count means fixed
    2^n_planes buckets per table, so bucket occupancy and therefore the
    self-join cost grow linearly with the corpus, i.e. O(n²/2^planes) is
    still quadratic at any fixed plane count):

    * ``n_planes=None`` (default) scales the key space with the corpus:
      one narrow count job picks ``max(10, ceil(log2(n)) - 3)`` planes,
      targeting ~8 expected entries per bucket under a uniform hash.
      True near-dups (cosine ≥ 0.95, angle ≤ 18°) keep per-table
      collision probability (1 - θ/π)^planes, so at larger plane counts
      raise ``tables`` to hold a recall target; EXACT duplicates (the
      oracle-checked case) collide in every table at any plane count.
    * ``max_bucket`` + ``cap_metrics``: the same audited degenerate-
      bucket cap as ``minhash_lsh_pairs`` — a hot cell (e.g. a mass of
      zero vectors) is dropped from the join and COUNTED, never silently
      quadratic."""
    if n_planes is None:
        n_planes = auto_n_planes(embeddings.select(id_col).count())
    narrow = with_lsh_buckets(
        embeddings.select(id_col, vec_col), dim, n_planes, tables, seed, vec_col
    ).select("table", "bucket", F.col(id_col))
    from .dedup import apply_bucket_cap

    narrow = apply_bucket_cap(narrow, ["table", "bucket"], max_bucket, cap_metrics)
    a, b = narrow.alias("a"), narrow.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = embeddings.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    cand = cand.join(
        vecs.withColumnRenamed(id_col, "id_a").withColumnRenamed("_v", "va"), "id_a"
    ).join(vecs.withColumnRenamed(id_col, "id_b").withColumnRenamed("_v", "vb"), "id_b")
    return (
        cand.select(
            "id_a", "id_b", F.round(cosine_expr(F.col("va"), F.col("vb")), 6).alias("cosine")
        )
        .filter(F.col("cosine") >= cosine_threshold)
    )


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label (domain/cluster) centroid of an embedding column, as
    narrow (label, dim, n_vecs, centroid) rows — the domain-signature
    primitive behind DoReMi-style mixture weighting and per-source
    drift monitoring.

    Scale shape: posexplode → hash-agg keyed (label, dim). Group
    cardinality is |labels|·dim — DIMENSION-sized — so map-side partial
    aggregation collapses every scan partition to at most that many
    rows before the single tiny exchange; the vector column itself
    never enters a shuffle. Centroids are 6-decimal-quantized: the
    oracle's summation order necessarily differs, and quantization
    absorbs the last-ulp drift."""
    ex = emb.select(label_col, F.posexplode(vec_col).alias("dim", "v"))
    return ex.groupBy(label_col, "dim").agg(
        F.count("*").alias("n_vecs"),
        round6(F.avg("v")).alias("centroid"),
    )


def centroid_similarity(
    cents: DataFrame, label_col: str = "label"
) -> DataFrame:
    """Pairwise cosine similarity between label centroids
    (label_a < label_b once per pair) — the domain-affinity matrix over
    :func:`label_centroids` output.

    Everything here is dimension-sized (|labels|·dim rows in, |labels|²
    rows out): the dim-keyed self-join and the norm join are
    broadcastable by AQE at any corpus scale because the input is
    already an aggregate, not the corpus."""
    norms = cents.groupBy(label_col).agg(
        F.sqrt(F.sum(F.col("centroid") * F.col("centroid"))).alias("nrm")
    )
    a = cents.select(
        F.col(label_col).alias("label_a"), "dim", F.col("centroid").alias("ca")
    )
    b = cents.select(
        F.col(label_col).alias("label_b"), "dim", F.col("centroid").alias("cb")
    )
    dots = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col(label_col).alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col(label_col).alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            "label_a",
            "label_b",
            round6(F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )


def pca_power_iteration(
    emb: DataFrame,
    vec_col: str = "embedding",
    iters: int = 2,
) -> DataFrame:
    """Top principal direction of an embedding table by distributed
    power iteration — the whitening / drift-monitoring primitive (the
    dominant axis of a healthy embedding space is stable; a sudden
    rotation means the encoder or the corpus changed).

    Each iteration computes w = Xᵀ(Xv) in ONE narrow pass:
    ``mapInPandas`` folds every Arrow batch into a d-length float64
    partial (two BLAS matvecs per batch — the vectors never leave the
    executor unreduced), the partials meet in a 64-row hash-agg, and
    the d-row result is collected driver-side exactly like the k-means
    centroid step (dimension-sized, never fact-sized). v is re-quantized
    to 1e-6 after every normalization so the iterate — and therefore
    the whole trajectory — is bit-identical across engines and
    accumulation orders; the final Rayleigh quotient λ = Σ(x·v)² rides
    the same partial-fold shape. Cost: ``iters + 1`` scans, zero
    fact-sized shuffles, O(d·n_batches) exchanged bytes.

    Output: one row per dimension (dim, loading) plus the constant
    (eigenvalue, n_vecs) columns. Sign is pinned by the deterministic
    all-positive init (1/√d, quantized)."""
    import pandas as pd

    spark = emb.sparkSession
    first = emb.select(vec_col).first()
    if first is None:
        return spark.createDataFrame(
            [], "dim int, loading double, eigenvalue double, n_vecs long"
        )
    d = len(first[0])

    def q6(a: np.ndarray) -> np.ndarray:
        return np.floor(a * 1e6 + 0.5) / 1e6

    v = q6(np.full(d, 1.0 / np.sqrt(d)))

    def xtxv_pass(v_cur: np.ndarray):
        def fold(batches):
            acc = np.zeros(d)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                acc += (X @ v_cur) @ X
            yield pd.DataFrame({"j": np.arange(1, d + 1), "w": acc})

        rows = (
            emb.select(vec_col)
            .mapInPandas(fold, "j int, w double")
            .groupBy("j")
            .agg(F.sum("w").alias("w"))
            .collect()
        )
        w = np.zeros(d)
        for r in rows:
            w[r["j"] - 1] = r["w"]
        return w

    for _ in range(iters):
        w = xtxv_pass(v)
        v = q6(w / np.sqrt((w * w).sum()))

    def lam_fold(batches):
        acc, n = 0.0, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            s = X @ v
            acc += float(s @ s)
            n += len(pdf)
        yield pd.DataFrame({"lam": [acc], "n": [n]})

    tot = (
        emb.select(vec_col)
        .mapInPandas(lam_fold, "lam double, n long")
        .agg(F.sum("lam").alias("lam"), F.sum("n").alias("n"))
        .first()
    )
    lam = float(np.floor(tot["lam"] * 1e4 + 0.5) / 1e4)
    return spark.createDataFrame(
        [(j + 1, float(v[j]), lam, int(tot["n"])) for j in range(d)],
        "dim int, loading double, eigenvalue double, n_vecs long",
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each query, the k candidates MOST similar by cosine whose label
    differs from the query's — the near-misses a ranker learns the
    most from (far negatives are trivial; same-label neighbors are
    positives, not negatives).

    Same plan as cosine_topk (broadcast the query set, scan the
    corpus once, per-query k-row window) with the label inequality
    pushed into the scan-side filter so excluded candidates never
    reach the score computation. At 10^12 vectors swap the scan side
    for the IVF/LSH candidate stage exactly as ivf_topk does — the
    mining semantics (filter, then top-k) are unchanged.
    """
    from pyspark.sql import Window

    j = embeddings.join(F.broadcast(queries)).filter(
        F.col(label_col) != F.col(query_label_col)
    )
    scored = j.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col(label_col),
        F.round(cosine_expr(F.col(vec_col), F.col(query_vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    pool_k: int = 8,
    select_k: int = 4,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k: greedily pick
    ``select_k`` results from the exact top-``pool_k`` cosine pool,
    each step maximizing λ·cos(q,x) − (1−λ)·max_{s∈S} cos(x,s) — the
    standard de-redundancy re-rank between ANN retrieval and a RAG
    context window.

    Scale shape: the expensive part is the pool (one broadcast-queries
    scan, the cosine_topk plan); everything after operates on
    |queries|·pool_k rows — the greedy rounds are UNROLLED DataFrame
    ops over that tiny relation (pairwise sims: one self-join), so no
    Python, no driver loop over data. Every score is quantized with
    the JVM-side F.round/round6 discipline and the per-step argmax
    tie-breaks on (score desc, id asc), so the SQL oracle unrolls the
    identical rounds (k-means trajectory discipline). μ is computed as
    the IEEE value of (1.0 − λ) on BOTH engines — never a Python
    pre-folded constant."""
    from pyspark.sql import Window

    cands = cosine_topk(
        embeddings, queries, k=pool_k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, id_col, "cosine")
    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    a = (
        cands.select(query_id_col, F.col(id_col).alias("_xa"))
        .join(vecs.withColumnRenamed(id_col, "_xa").withColumnRenamed("_v", "_va"), "_xa")
    )
    b = (
        cands.select(query_id_col, F.col(id_col).alias("_xb"))
        .join(vecs.withColumnRenamed(id_col, "_xb").withColumnRenamed("_v", "_vb"), "_xb")
    )
    cc = (
        a.join(b, query_id_col)
        .filter(F.col("_xa") != F.col("_xb"))
        .select(
            query_id_col,
            "_xa",
            "_xb",
            F.round(cosine_expr(F.col("_va"), F.col("_vb")), 6).alias("_sim"),
        )
    )
    lam_c, mu_c = F.lit(lam), F.lit(1.0) - F.lit(lam)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    s1 = (
        cands.select(
            query_id_col, id_col, round6(lam_c * F.col("cosine")).alias("score")
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(query_id_col, id_col, F.lit(1).alias("step"), "score")
    )
    selected = s1
    for step in range(2, select_k + 1):
        rem = cands.join(
            selected.select(query_id_col, id_col), [query_id_col, id_col], "left_anti"
        )
        cc_sel = cc.join(
            selected.select(query_id_col, F.col(id_col).alias("_xb")),
            [query_id_col, "_xb"],
            "left_semi",
        )
        pen = (
            rem.withColumnRenamed(id_col, "_xa")
            .join(cc_sel, [query_id_col, "_xa"])
            .groupBy(query_id_col, F.col("_xa").alias(id_col), "cosine")
            .agg(F.max("_sim").alias("_pen"))
        )
        pick = (
            pen.select(
                query_id_col,
                id_col,
                round6(lam_c * F.col("cosine") - mu_c * F.col("_pen")).alias("score"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(query_id_col, id_col, F.lit(step).alias("step"), "score")
        )
        selected = selected.unionByName(pick)
    return selected.orderBy(query_id_col, "step")


def rrf_fusion(
    embeddings: DataFrame,
    queries: DataFrame,
    pool_k: int = 10,
    k: int = 5,
    rrf_k: int = 60,
    trunc_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Reciprocal-rank fusion of two retriever legs — the full-dim
    exact cosine top-``pool_k`` list and the first-``trunc_dims``
    Matryoshka-truncated cosine list — fused per (query, candidate) as
    Σ 1/(rrf_k + rank), the standard hybrid-retrieval combiner (RRF,
    Cormack et al.: rank-only fusion needs no score calibration across
    legs, which is the whole point when legs live on different scales).

    Scale shape: each leg is a cosine_topk plan (one corpus scan with
    the query set broadcast); the fusion itself is a full-outer join of
    two |queries|·pool_k relations — tiny, no corpus-sized shuffle.
    The RRF score is a sum of exactly two doubles (order-free IEEE add)
    round6-quantized; ranks come from each leg's deterministic
    (cosine desc, id asc) window; final ties break on id. Missing-leg
    ranks surface as NULL ints (hash-stable on both engines)."""
    full = cosine_topk(
        embeddings, queries, k=pool_k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, id_col, F.col("rank").alias("rank_full"))
    emb_t = embeddings.withColumn(vec_col, F.slice(F.col(vec_col), 1, trunc_dims))
    q_t = queries.withColumn(
        query_vec_col, F.slice(F.col(query_vec_col), 1, trunc_dims)
    )
    trunc = cosine_topk(
        emb_t, q_t, k=pool_k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, id_col, F.col("rank").alias("rank_trunc"))
    from pyspark.sql import Window

    fused = full.join(trunc, [query_id_col, id_col], "full_outer")
    contrib = lambda c: F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col(c)), F.lit(0.0)
    )
    scored = fused.select(
        query_id_col,
        id_col,
        "rank_full",
        "rank_trunc",
        round6(contrib("rank_full") + contrib("rank_trunc")).alias("rrf_score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "rank_full", "rank_trunc",
                "rrf_score")
        .orderBy(query_id_col, "rank")
    )


def ivf_nprobe_sweep(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobes: tuple = (1, 2, 4),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """The IVF tuning curve: recall@k AND candidate-scan cost as a
    function of ``nprobe`` — the measurement that actually sizes an ANN
    deployment (you buy recall with probed cells; this query shows the
    price per point). One row per nprobe: queries answered, candidate
    pairs scanned (the cost), exact-top-k hits, recall@k.

    Shares one cell-assignment pass (the only touch of the full vector
    table) across all sweep points: the probe table carries a row per
    (nprobe, query, cell) with nested probe sets, so a single
    cell-keyed broadcast join scores every sweep point at once —
    sweeping never rescans or reshuffles the corpus. Recall is an
    exact integer ratio hits/(queries·k); the only floats are the
    same round-6 cosines the oracled ivf_topk/knn_bruteforce pair
    already pins."""
    from pyspark.sql import Window, types as T

    qrows = queries.select(query_id_col, query_vec_col).collect()
    cents = (
        embeddings.orderBy(id_col).limit(n_cells).select(id_col, vec_col).collect()
    )
    C = np.array([r[1] for r in cents], dtype=np.float64)
    e = with_ivf_cells(embeddings, C, vec_col)

    cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    qv = np.array([r[1] for r in qrows], dtype=np.float64)
    order = np.argsort(-(qv @ cn.T), axis=1, kind="stable")
    q_schema = T.StructType(
        [
            T.StructField("nprobe", T.IntegerType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField("_qv", T.ArrayType(T.DoubleType())),
        ]
    )
    probe = queries.sparkSession.createDataFrame(
        [
            (int(np_), int(order[i, p]), r[0], [float(x) for x in r[1]])
            for np_ in nprobes
            for i, r in enumerate(qrows)
            for p in range(min(np_, order.shape[1]))
        ],
        q_schema,
    )
    cand = e.join(F.broadcast(probe), on="cell", how="inner")
    scored = cand.select(
        "nprobe",
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            cosine_expr(F.col(vec_col).cast("array<double>"), F.col("_qv")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("nprobe", query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    approx = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    exact = cosine_topk(
        embeddings.withColumn(vec_col, F.col(vec_col).cast("array<double>")),
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select(query_id_col, F.col(id_col).alias("_exact_id"))
    hits = approx.join(
        exact,
        (approx[query_id_col] == exact[query_id_col])
        & (approx[id_col] == exact["_exact_id"]),
        "left_semi",
    )
    cost = scored.groupBy("nprobe").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    nq = F.lit(len(qrows))
    hit_counts = hits.groupBy("nprobe").agg(
        F.count("*").cast("long").alias("n_hits")
    )
    return (
        cost.join(hit_counts, "nprobe", "left")
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            nq.cast("long").alias("n_queries"),
            "n_candidates",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            round6(
                F.coalesce("n_hits", F.lit(0)) / (nq * k)
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe")
    )


def semdedup(
    embeddings: DataFrame,
    cosine_threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **near_dup_kw,
) -> DataFrame:
    """SemDeDup (semantic deduplication over embeddings): vectors whose
    cosine exceeds the threshold are the same content in different
    words — find the near-dup PAIR graph, contract it to connected
    components, keep ONE representative (minimum id) per component.
    This is the cluster-not-pair semantics corpus dedup needs (A~B,
    B~C collapse to one survivor even when A~C was never emitted) —
    the embedding-space twin of MinHash's near_dup_clusters.

    Pipeline = the two already-hardened stages composed: LSH-bucketed
    candidate pairs (:func:`embedding_near_dup_pairs` — narrow banding
    relation, audited bucket cap) then O(log diameter) min-label +
    pointer-jump components (dedup.near_dup_clusters). Vectors outside
    any pair are their own singleton cluster via one left join.

    Returns one row per input vector: (vec_id, cluster_id, cluster_size,
    keep) — keep is true exactly for the representative, so
    ``filter(keep)`` IS the deduplicated corpus and
    ``groupBy(cluster_id)`` the dup census."""
    from pyspark.sql import Window

    from .dedup import near_dup_clusters

    pairs = embedding_near_dup_pairs(
        embeddings,
        cosine_threshold=cosine_threshold,
        id_col=id_col,
        vec_col=vec_col,
        **near_dup_kw,
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    labels = near_dup_clusters(pairs)
    out = (
        embeddings.select(F.col(id_col))
        .join(
            labels.withColumnRenamed("doc_id", id_col),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("cluster", F.col(id_col)).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return out.select(
        id_col,
        "cluster_id",
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    ).orderBy("cluster_id", id_col)


def knn_outliers(
    embeddings: DataFrame,
    k: int = 5,
    top: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """kNN-distance outlier scoring: a vector's outlier score is its
    cosine DISTANCE to its k-th nearest neighbor — isolated points sit
    far even from their closest cluster, duplicated/clustered points
    don't. The standard embedding-space cleaning pass before training
    (prune the weirdest tail) and the dual of SemDeDup (which prunes
    the DENSEST points).

    O(n²) by nature — the caller bounds the input (the oracle-checked
    query caps at the same id slice as the bruteforce KNN twin); the
    scale path is scoring against the IVF cells' members only
    (ivf_topk), which turns the all-pairs scan into per-cell blocks.
    Cosines are the same round-6 device every ANN operator pins; ranks
    break ties by id, so top-k is a total order."""
    from pyspark.sql import Window

    e = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    a, b = e.alias("a"), e.alias("b")
    scored = a.join(
        b, F.col(f"a.{id_col}") != F.col(f"b.{id_col}")
    ).select(
        F.col(f"a.{id_col}").alias(id_col),
        F.col(f"b.{id_col}").alias("nn_id"),
        F.round(cosine_expr(F.col("a._v"), F.col("b._v")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("cosine"), F.asc("nn_id")
    )
    kth = scored.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") == k
    )
    return (
        kth.select(
            id_col,
            F.col("nn_id").alias("kth_nn_id"),
            F.col("cosine").alias("kth_nn_cosine"),
            round6(F.lit(1.0) - F.col("cosine")).alias("outlier_score"),
        )
        .orderBy(F.asc("kth_nn_cosine"), F.asc(id_col))
        .limit(top)
    )


def cosine_lag_histogram(
    emb: DataFrame,
    lags: tuple[int, ...] = (1, 7, 49),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise-cosine DISTRIBUTION probe for embedding spaces: for a
    deterministic linear sample of pairs (each vector paired with the
    vectors ``lag`` ids ahead), histogram the cosine into 0.1-wide
    buckets per lag. This is the calibration readout behind every
    near-dup/ANN threshold choice — "where does the background cosine
    mass sit, and does a 0.95 near-dup cutoff clear it" — without the
    quadratic all-pairs scan.

    The lag construction is the md5-threshold discipline applied to
    PAIR sampling: the pair set is a pure function of ids (stable
    across runs/engines/partitionings), covers the id range uniformly,
    and is LINEAR — |pairs| ≤ |lags|·n, so at 10^12 vectors this plans
    as |lags| co-partitionable equi-joins on a shifted id. Each vector
    crosses an exchange at most 1+|lags| times (documented exception
    to the vectors-never-shuffle invariant: linear payload movement,
    unlike the quadratic all-pairs shapes the invariant guards
    against).

    bucket = floor(round6(cosine)·10), so cosine 1.0 lands in bucket
    10 and the bucket edge is taken after the shared 1e-6
    quantization — identical doubles on both engines floor
    identically."""
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    lag = F.explode(F.array(*[F.lit(int(x)) for x in lags])).alias("lag")
    left = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"), lag)
    right = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    pairs = left.join(
        right, left["id_a"] + left["lag"] == right["id_b"], "inner"
    )
    cos6 = round6(cosine_expr(F.col("va"), F.col("vb")))
    return (
        pairs.select("lag", F.floor(cos6 * 10).cast("int").alias("bucket"))
        .groupBy("lag", "bucket")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("lag", "bucket")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — codebook fit, census, and ADC recall audit
# ---------------------------------------------------------------------------


def _pq_sqdist_expr(sv, cvec) -> Column:
    """Left-fold sum of (sv[j]-c_j)^2 in subscript order — mirrored by
    the oracle's list_reduce((a,x)->a+x) over the same terms."""
    terms = [
        (sv[j] - float(cvec[j])) * (sv[j] - float(cvec[j]))
        for j in range(len(cvec))
    ]
    d = terms[0]
    for t in terms[1:]:
        d = d + t
    return d


def _pq_assign_arrow(
    embeddings: DataFrame,
    C: list,
    id_col: str,
    vec_col: str,
    with_id: bool = True,
    with_d: bool = False,
    with_sv: bool = False,
) -> DataFrame:
    """PQ code assignment as ONE Arrow stage.

    Exactness: for every (subspace s, code c) the squared distance is
    accumulated COORDINATE BY COORDINATE in subscript order
    (``acc += (x_j − c_j)²`` with vectorized elementwise ops), i.e. the
    exact IEEE sequence of ``_pq_sqdist_expr``'s left fold and of the
    oracle's ``list_reduce`` — per row the arithmetic is bit-identical,
    so the argmin (np.argmin = first occurrence = smallest code on
    ties, matching least(struct(d, code))) cannot flip.

    Emits one row per (vector, subspace): ``s``, ``code``, plus
    ``id``/``d``/``sv`` on request.  m·k·dsub vector ops per batch, no
    explode, no shuffle."""
    from pyspark.sql import types as T

    m = len(C)
    dsub = int(C[0].shape[1])
    dim = m * dsub
    fields = []
    if with_id:
        fields.append(T.StructField("_id", embeddings.schema[id_col].dataType))
    fields += [
        T.StructField("s", T.IntegerType()),
        T.StructField("code", T.IntegerType()),
    ]
    if with_d:
        fields.append(T.StructField("d", T.DoubleType()))
    if with_sv:
        fields.append(T.StructField("sv", T.ArrayType(T.DoubleType())))
    out_schema = T.StructType(fields)
    base = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    Cnp = [np.asarray(Cs, dtype=np.float64) for Cs in C]

    def assign(batches):
        import pyarrow as pa

        for bt in batches:
            n = bt.num_rows
            if n == 0:
                continue
            col = bt.column(bt.schema.get_field_index("_v"))
            V = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(n, dim)
            )
            ids = bt.column(bt.schema.get_field_index("_id"))
            for s in range(m):
                X = V[:, s * dsub : (s + 1) * dsub]
                Cs = Cnp[s]
                D = np.empty((n, Cs.shape[0]), dtype=np.float64)
                for c in range(Cs.shape[0]):
                    # strict left-fold in subscript order — see docstring
                    t0 = X[:, 0] - Cs[c, 0]
                    acc = t0 * t0
                    for j in range(1, dsub):
                        tj = X[:, j] - Cs[c, j]
                        acc = acc + tj * tj
                    D[:, c] = acc
                code = np.argmin(D, axis=1).astype(np.int32)
                arrays = []
                names = []
                if with_id:
                    arrays.append(ids)
                    names.append("_id")
                arrays += [
                    pa.array(np.full(n, s, dtype=np.int32)),
                    pa.array(code),
                ]
                names += ["s", "code"]
                if with_d:
                    arrays.append(pa.array(D[np.arange(n), code]))
                    names.append("d")
                if with_sv:
                    offs = pa.array(
                        np.arange(0, (n + 1) * dsub, dsub, dtype=np.int32)
                    )
                    arrays.append(
                        pa.ListArray.from_arrays(
                            offs, pa.array(np.ascontiguousarray(X).ravel())
                        )
                    )
                    names.append("sv")
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    return base.mapInArrow(assign, schema=out_schema)


def pq_fit(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list | None:
    """Fit per-subspace PQ codebooks: deterministic init (subvectors of
    the first ``k`` vectors by id) + ONE Lloyd round with round-6
    recentering (the kmeans_centroids device — after rounding, Spark
    and the SQL mirror hold bit-identical codebooks). Empty codes keep
    their init centroid. Returns a list of m (<=k, d/m) float64 arrays,
    or None on an empty corpus.

    Scale: the fit is one scan (assignment is a literal-expression
    projection) + one (s, code)-keyed partial-sum shuffle; at 10^12
    rows you run the identical plan on a fixed sample."""
    if m < 1 or k < 1:
        raise ValueError(f"m and k must be >= 1, got m={m} k={k}")
    first = embeddings.orderBy(id_col).limit(k).select(vec_col).collect()
    if not first:
        return None
    V0 = np.array([r[0] for r in first], dtype=np.float64)
    dim = V0.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    C0 = [V0[:, s * dsub : (s + 1) * dsub] for s in range(m)]
    a0 = _pq_assign_arrow(
        embeddings, C0, id_col, vec_col, with_id=False, with_sv=True
    )
    means = a0.groupBy("s", "code").agg(
        *[
            F.round(F.sum(F.col("sv")[j]) / F.count("*"), 6).alias(f"m{j}")
            for j in range(dsub)
        ]
    ).collect()
    C1 = [c.copy() for c in C0]
    for r in means:
        C1[r["s"]][r["code"]] = [r[f"m{j}"] for j in range(dsub)]
    return C1


def pq_codebook_stats(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization fit + assignment audit — the memory side of
    IVF-PQ: learn codebooks via :func:`pq_fit`, assign every subvector
    to its nearest code by squared L2 (ties -> smallest code), and
    report the per-(subspace, code) census with mean quantization
    distortion. 64-dim vectors at m=4, k=8 compress 256 B -> 4 B/vector
    at the cost of the reported distortion; this census is what you
    read to pick m and k.

    Exactness: distances are left-fold sums of (x_j-c_j)^2 in subscript
    order, mirrored by the oracle's list_reduce; per-vector distortion
    quantizes to integer e6 units BEFORE the census sum, so the
    reported mean is int/int, round6.

    Scale shape: codebooks are driver-side constants baked into the
    plan as literals, so both assignment passes are pure projections —
    the vector column never enters an Exchange; each pass shuffles only
    the (s, code)-keyed partial sums (<= m*k rows x d_sub cols per
    partition). r6: both assignment passes run through
    :func:`_pq_assign_arrow` — the bit-identical left-fold Arrow kernel
    that replaced the literal-expression argmin after it tripped the
    64 KB codegen limit and fell back to interpreted eval."""
    C1 = pq_fit(embeddings, m, k, id_col, vec_col)
    if C1 is None:
        schema = "s int, code int, n_assigned long, mean_dist double"
        return embeddings.sparkSession.createDataFrame([], schema)
    a1 = _pq_assign_arrow(
        embeddings, C1, id_col, vec_col, with_id=False, with_d=True
    )
    return (
        a1.select(
            "s",
            "code",
            F.floor(F.col("d") * 1e6 + F.lit(0.5)).cast("long").alias("d_e6"),
        )
        .groupBy("s", "code")
        .agg(
            F.count("*").cast("long").alias("n_assigned"),
            F.sum("d_e6").cast("long").alias("s_e6"),
        )
        .select(
            F.col("s").cast("int").alias("s"),
            F.col("code").cast("int").alias("code"),
            "n_assigned",
            round6(
                F.col("s_e6").cast("double")
                / (F.col("n_assigned") * F.lit(1000000.0))
            ).alias("mean_dist"),
        )
        .orderBy("s", "code")
    )


def pq_adc_recall(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 8,
    n_queries: int = 3,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@topk of PQ asymmetric-distance search against the exact
    L2 top-k — the acceptance gate before shipping the 64x memory
    saving: encode the corpus to m codes/vector, score queries against
    codes via a precomputed (query, subspace, code) distance table
    (ADC — the query side stays float, only the database is
    quantized), and measure the overlap with exact search. Queries are
    the first ``n_queries`` vectors by id (the repo's knn convention).

    Exactness: every distance-table entry is quantized to integer e6
    units at build time, so ADC scores are INTEGER sums — the top-k
    order (score, vec_id) has no float-tie risk at all; the exact side
    quantizes its full-dim left-fold L2 the same way. The table is
    computed with plain Python left folds (same IEEE sequence as the
    oracle's list_reduce) from the bit-identical round-6 codebooks.

    Scale shape: encoding is a projection (see pq_codebook_stats); the
    ADC join broadcasts a (q x m x k)-row table and aggregates integer
    partial sums per (query, vec) — codes, not vectors, are the only
    thing wider than a long in any Exchange; top-k is the standard
    per-query window over n_queries * corpus rows of 3 longs."""
    from pyspark.sql import Window

    C1 = pq_fit(embeddings, m, k, id_col, vec_col)
    if C1 is None:
        schema = "query_id long, n_overlap long, recall_at_k double"
        return embeddings.sparkSession.createDataFrame([], schema)
    dsub = C1[0].shape[1]
    spark = embeddings.sparkSession

    qrows = (
        embeddings.orderBy(id_col).limit(n_queries).select(id_col, vec_col).collect()
    )
    queries = [(int(r[0]), [float(x) for x in r[1]]) for r in qrows]

    # (query, subspace, code) -> e6-quantized squared L2, plain-Python
    # left fold == the engines' fold over identical literals
    import math

    dt_rows = []
    for qid, qv in queries:
        for s in range(m):
            qs = qv[s * dsub : (s + 1) * dsub]
            for c in range(C1[s].shape[0]):
                d = (qs[0] - C1[s][c][0]) * (qs[0] - C1[s][c][0])
                for j in range(1, dsub):
                    d = d + (qs[j] - C1[s][c][j]) * (qs[j] - C1[s][c][j])
                dt_rows.append((qid, s, c, int(math.floor(d * 1e6 + 0.5))))
    dt = spark.createDataFrame(dt_rows, "query_id long, s int, code int, d_e6 long")

    codes = _pq_assign_arrow(embeddings, C1, id_col, vec_col)
    adc = (
        codes.join(F.broadcast(dt), ["s", "code"])
        .groupBy("query_id", "_id")
        .agg(F.sum("d_e6").cast("long").alias("adc_e6"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_e6"), F.asc("_id"))
    pq_top = adc.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= topk
    ).select("query_id", F.col("_id").alias("vec_id"))

    # exact side: full-dim left-fold L2 against each literal query,
    # e6-quantized before ordering
    vec_d = F.col(vec_col).cast("array<double>")
    exact_parts = []
    for qid, qv in queries:
        dist = _pq_sqdist_expr(vec_d, qv)
        exact_parts.append(
            embeddings.select(
                F.lit(qid).cast("long").alias("query_id"),
                F.col(id_col).alias("vec_id"),
                F.floor(dist * 1e6 + F.lit(0.5)).cast("long").alias("d_e6"),
            )
        )
    exact_all = exact_parts[0]
    for p in exact_parts[1:]:
        exact_all = exact_all.unionByName(p)
    we = Window.partitionBy("query_id").orderBy(F.asc("d_e6"), F.asc("vec_id"))
    exact_top = exact_all.withColumn("rk", F.row_number().over(we)).filter(
        F.col("rk") <= topk
    ).select("query_id", "vec_id")

    hits = pq_top.withColumn("_hit", F.lit(1))
    return (
        exact_top.join(hits, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            round6(F.col("n_overlap") / F.lit(float(topk))).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def twonn_intrinsic_dim(
    embeddings: DataFrame,
    sample_n: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017,
    doi:10.1038/s41598-017-11873-y) of the embedding manifold — the
    geometry readout behind ANN-index tuning: IVF/HNSW recall-vs-nprobe
    curves are governed by the manifold's INTRINSIC dimension, not the
    ambient one, and a collapsed manifold (id << ambient dim) is the
    standard symptom of an under-trained or truncated encoder.

    Estimator: for each anchor, μ = r₂/r₁ (2nd- vs 1st-NN Euclidean
    distance); the Pareto MLE is d̂ = n / Σ ln μ.  Computed on a
    deterministic md5-ordered sample (the estimator is already a
    SAMPLE statistic — its variance is O(1/n) in sample size, so a
    few hundred anchors suffice regardless of corpus scale; this is
    how TwoNN is run in practice).  Anchors whose nearest neighbor is
    an exact duplicate (r₁ = 0 after quantization) are excluded and
    counted — duplicates say "0-dimensional" only degenerately.

    Exactness: squared distances come from the expanded form
    ‖a‖² − 2a·b + ‖b‖² (the same fold primitives every ANN twin here
    pins against DuckDB's list_dot_product), round6-quantized BEFORE
    ranking so both engines rank identical keys with id tie-breaks;
    ln μ = (ln d₂² − ln d₁²)/2 on those quantized keys; the 1-row MLE
    is round6-ed.

    Scale shape: the global sort touches ONLY (md5, id) pairs — ids
    are fetched, then a broadcast semi-join pulls the sample_n
    vectors; the all-pairs block is sample_n², driver-bounded, and
    the corpus itself is scanned exactly once."""
    from pyspark.sql import Window

    ids = (
        embeddings.select(
            F.col(id_col), F.md5(F.col(id_col).cast("string")).alias("_h")
        )
        .orderBy("_h", id_col)
        .limit(sample_n)
        .select(id_col)
    )
    e = embeddings.join(F.broadcast(ids), id_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    a, b = e.alias("a"), e.alias("b")
    av, bv = F.col("a._v"), F.col("b._v")
    dsq = round6(
        _dot(av, av) - F.lit(2.0) * _dot(av, bv) + _dot(bv, bv)
    )
    pairs = a.join(b, F.col(f"a.{id_col}") != F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("anchor"),
        F.col(f"b.{id_col}").alias("nn"),
        dsq.alias("dsq"),
    )
    w = Window.partitionBy("anchor").orderBy(F.asc("dsq"), F.asc("nn"))
    nn2 = (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 2)
        .groupBy("anchor")
        .agg(
            F.min(F.when(F.col("r") == 1, F.col("dsq"))).alias("d1sq"),
            F.min(F.when(F.col("r") == 2, F.col("dsq"))).alias("d2sq"),
        )
    )
    used = nn2.select(
        F.col("anchor"),
        F.when(
            (F.col("d1sq") > 0) & (F.col("d2sq") > 0),
            (F.log("d2sq") - F.log("d1sq")) / 2,
        ).alias("lnmu"),
    )
    s = used.agg(
        F.count("*").cast("long").alias("n_sample"),
        F.sum(F.when(F.col("lnmu").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_used"),
        F.sum("lnmu").alias("slnmu"),
    )
    return s.select(
        "n_sample",
        "n_used",
        (F.col("n_sample") - F.col("n_used")).cast("long").alias("n_dup_anchors"),
        round6(
            F.when(
                F.col("slnmu") > 0,
                F.col("n_used").cast("double") / F.col("slnmu"),
            )
        ).alias("intrinsic_dim"),
        round6(F.col("slnmu") / F.col("n_used")).alias("mean_ln_mu"),
    )


def kcenter_coreset(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Farthest-first (Gonzalez) k-center coreset over the embedding
    table — the classic 2-approximation for picking k MAXIMALLY
    DIVERSE exemplars, the dual of dedup: SemDeDup removes what is too
    close together, this selects what is farthest apart (seed sets for
    active labeling, eval probes, cluster initialization).

    Seed = the vector of largest squared norm (tie → smallest id);
    each following round selects the point FARTHEST from everything
    selected so far (max over points of min-over-centers distance).
    Distances are squared L2 via the inner-product identity
    |a−b|² = |a|² + |b|² − 2⟨a,b⟩ with round6 quantization at every
    comparison point and id tie-breaks, so both engines select the
    identical sequence.

    Scale shape: the inherently sequential part of Gonzalez is k — a
    SMALL constant — not the corpus: each round is ONE distributed
    scan computing least(min_d, d²(·, new_center)) plus a 1-row
    argmax reduce (TakeOrdered, no global sort), with the center
    vector broadcast as a literal. k scans of the corpus for k
    exemplars is the textbook distributed shape; min_d folds
    incrementally so round r does O(1) vector ops per row regardless
    of r. The driver holds only the k selected rows.

    Returns (sel_round, vec_id, min_dist) — min_dist is the point's
    distance-to-selected-set at the moment it was chosen (NULL for
    the seed), i.e. the running covering radius."""
    spark = embeddings.sparkSession
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("n2", round6(_dot(F.col("v"), F.col("v"))))
    # every round's argmax scan re-reads the projected corpus
    base = materialize(base)
    seed = base.orderBy(F.desc("n2"), F.asc("vid")).limit(1).collect()[0]
    picked = [(1, int(seed.vid), None)]

    def d2_to(center_vec, center_n2):
        lit_vec = F.array(*[F.lit(float(x)) for x in center_vec])
        return round6(
            F.col("n2")
            + F.lit(float(center_n2))
            - F.lit(2.0) * _dot(F.col("v"), lit_vec)
        )

    cur = base.filter(F.col("vid") != int(seed.vid)).withColumn(
        "min_d", d2_to(seed.v, seed.n2)
    )
    for r in range(2, k + 1):
        far = cur.orderBy(F.desc("min_d"), F.asc("vid")).limit(1).collect()
        if not far:
            break
        far = far[0]
        picked.append((r, int(far.vid), float(far.min_d)))
        if r < k:
            cur = cur.filter(F.col("vid") != int(far.vid)).withColumn(
                "min_d", F.least(F.col("min_d"), d2_to(far.v, far.n2))
            )
    return spark.createDataFrame(
        picked, "sel_round int, vec_id long, min_dist double"
    ).orderBy("sel_round")


def silhouette_by_cell(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette score per IVF cell — the
    cluster-quality eval for the k-means coarse quantizer every other
    embedding operator here builds on (IVF top-k, SemDeDup, nprobe
    sweep). The full silhouette needs all pairwise distances (O(n²) —
    impossible at corpus scale); the standard scalable variant replaces
    mean-distance-to-cluster with distance-to-centroid:

        a(x) = 1 − cos(x, own centroid)
        b(x) = 1 − max over other centroids cos(x, ·)
        s(x) = (b − a) / max(a, b)     (0 when max(a,b) = 0)

    s ≈ 1 means tight, well-separated cells (nprobe=1 would already
    recall well); s ≈ 0 means boundary-hugging points (raise nprobe or
    n_cells). Because assignment is argmax-cosine, a ≤ b and s ∈ [0,1].

    Exactness: the fit is the engine-portable kmeans_centroids (round-6
    centroid means); per-row cosines are round6-quantized, a/b/s are
    fixed IEEE expressions over those quantized values, and s is summed
    as integer MICRO units (BIGINT — order-independent), so per-cell
    means are engine-exact.

    Scale shape: ONE Arrow-matmul pass computes the assignment AND the
    round6-quantized cosine array to every centroid (shuffle-free —
    ``with_ivf_cells(with_cosines=True)``; the kernel already holds the
    full similarity matrix, so re-deriving the n_cells cosines as
    literal-centroid JVM expressions would only re-buy the same matmul
    as seconds of py4j expression build + codegen per run), then a
    cells-sized hash agg — the corpus is scanned, never shuffled; only
    (cell, s_micro) partials move. Returns per-cell rows plus an
    overall cell = -1 row."""
    C = kmeans_centroids(
        embeddings, n_cells=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    e = with_ivf_cells(
        embeddings.select(id_col, vec_col), C, vec_col, with_cosines=True
    )
    cos_arr = F.col("cos6")
    cell = F.col("cell")
    own = F.get(cos_arr, cell)
    oth = F.array_max(
        F.filter(cos_arr, lambda x, i: i != cell)
    )
    a = F.lit(1.0) - own
    b = F.lit(1.0) - oth
    denom = F.greatest(a, b)
    s = F.when(denom > 0, (b - a) / denom).otherwise(F.lit(0.0))
    scored = e.select(
        cell, F.floor(s * 1e6 + F.lit(0.5)).cast("long").alias("s_micro")
    )
    # cube("cell") = grouping sets {(cell), ()}: per-cell rows AND the
    # overall row from ONE corpus-scale hash agg (a separate
    # union-of-aggregations branch re-runs the whole Arrow assignment
    # scan — observed as two hashpartitioning exchanges in the plan).
    # cell is never NULL in the data, so NULL marks the total row.
    return (
        scored.cube("cell")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("s_micro").cast("long").alias("sm"),
        )
        .select(
            F.coalesce(F.col("cell"), F.lit(-1)).cast("int").alias("cell"),
            "n_vecs",
            round6(
                F.col("sm").cast("double")
                / (F.lit(1e6) * F.col("n_vecs").cast("double"))
            ).alias("mean_sil"),
        )
        .orderBy("cell")
    )


def rbo_overlap(
    embeddings: DataFrame,
    queries: DataFrame,
    pool_k: int = 10,
    p: float = 0.9,
    trunc_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Rank-Biased Overlap (Webber et al.) between the two retriever
    legs rrf_fusion combines — the full-dim exact-cosine top-k and the
    Matryoshka-truncated top-k. RRF *uses* both legs; RBO *measures*
    how much they agree (1 = identical rankings, 0 = disjoint), which
    is the eval you run BEFORE trusting a cheap leg to stand in for an
    expensive one. Truncated form (no extrapolation — a lower bound):

        RBO@k = (1−p) · Σ_{d=1..k} p^(d−1) · |A_:d ∩ B_:d| / d

    Rearranged per joint candidate: an id at prefix depth
    m = max(rank_A, rank_B) contributes W(m) = Σ_{d=m..k} p^(d−1)/d,
    so RBO = (1−p)·Σ W(m_i). The W table is computed ONCE in Python,
    quantized to integer 1e-9 units, and embedded as the SAME literal
    CASE table in the Spark plan and the SQL oracle — the sum is pure
    integer addition, so no libm pow() or float-summation-order
    divergence can exist between engines.

    Scale shape: two cosine_topk plans (corpus scans with the query set
    broadcast), then all work happens on |queries|·pool_k rows."""
    w_table = []
    for m in range(1, pool_k + 1):
        w = sum(p ** (d - 1) / d for d in range(m, pool_k + 1))
        w_table.append(int((1 - p) * w * 1e9 + 0.5))

    full = cosine_topk(
        embeddings, queries, k=pool_k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, id_col, F.col("rank").alias("rank_full"))
    emb_t = embeddings.withColumn(vec_col, F.slice(F.col(vec_col), 1, trunc_dims))
    q_t = queries.withColumn(
        query_vec_col, F.slice(F.col(query_vec_col), 1, trunc_dims)
    )
    trunc = cosine_topk(
        emb_t, q_t, k=pool_k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, id_col, F.col("rank").alias("rank_trunc"))

    joint = full.join(trunc, [query_id_col, id_col], "inner")
    m_col = F.greatest("rank_full", "rank_trunc")
    contrib = F.lit(None).cast("long")
    for m in range(pool_k, 0, -1):
        contrib = F.when(m_col == m, F.lit(w_table[m - 1])).otherwise(contrib)
    return (
        joint.select(query_id_col, contrib.alias("_w_e9"))
        .groupBy(query_id_col)
        .agg(
            F.count("*").cast("long").alias("n_joint"),
            F.sum("_w_e9").cast("long").alias("rbo_e9"),
        )
        .orderBy(query_id_col)
    )


def class_separability(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Fisher-style class-separability audit of an embedding space:
    per label, the WITHIN variance (mean squared distance of members
    to their own centroid) and the squared distance of the centroid to
    the global mean; plus one overall row (label = −1) with the pooled
    within variance, the n-weighted BETWEEN variance, and their ratio
    — the scalar that says whether the labels are even separable in
    this space before anyone trains a probe (ratio ≫ 0: clustered;
    ≈ 0: labels are noise w.r.t. the geometry).

    Everything derives from per-(label, dim) MOMENTS (n, Σv, Σv²):
    within-SS = Σv² − (Σv)²/n per (label, dim) — no second pass over
    the vectors, no centroid join back to the corpus.  Values are cast
    to double at explode time so both engines run the identical IEEE
    chain; sums quantize to 1e-6 at the output.

    Scale shape: one posexplode → (label, dim)-keyed hash-agg —
    DIMENSION-sized after map-side partials, the same plan as
    label_centroids; every later step is over |labels|·dim rows.  The
    vector column never enters an Exchange."""
    mom = (
        emb.select(label_col, F.posexplode(vec_col).alias("dim", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .groupBy(label_col, "dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("v").alias("s1"),
            F.sum(F.col("v") * F.col("v")).alias("s2"),
        )
    )
    glob = mom.groupBy("dim").agg(
        F.sum("s1").alias("gs1"), F.sum("n").cast("long").alias("gn")
    )
    j = mom.join(glob, "dim")
    c = F.col("s1") / F.col("n")
    m = F.col("gs1") / F.col("gn")
    per_ld = j.select(
        F.col(label_col).alias("label"),
        "n",
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")).alias("wss"),
        ((c - m) * (c - m)).alias("bd"),
    )
    per_l = per_ld.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.sum("wss").alias("wss_l"),
        F.sum("bd").alias("dist2"),
    )
    lab_rows = per_l.select(
        F.col("label").cast("long").alias("label"),
        "n_vecs",
        round6(F.col("wss_l") / F.col("n_vecs")).alias("within_var"),
        round6(F.col("dist2")).alias("between_dist2"),
        F.lit(None).cast("double").alias("fisher_ratio"),
    )
    tot = per_l.agg(
        F.sum("n_vecs").cast("long").alias("n_vecs"),
        (F.sum("wss_l") / F.sum("n_vecs")).alias("w"),
        (
            F.sum(F.col("n_vecs") * F.col("dist2")) / F.sum("n_vecs")
        ).alias("b"),
    ).select(
        F.lit(-1).cast("long").alias("label"),
        "n_vecs",
        round6(F.col("w")).alias("within_var"),
        round6(F.col("b")).alias("between_dist2"),
        F.when(F.col("w") > 0, round6(F.col("b") / F.col("w"))).alias(
            "fisher_ratio"
        ),
    )
    return lab_rows.unionByName(tot).orderBy("label")


def jl_sign_matrix(dim: int, k: int, seed: int = 777) -> list[list[float]]:
    """Deterministic ±1 Johnson–Lindenstrauss (Achlioptas 2003) sign
    matrix, k rows × dim cols, from a seeded RNG — shared literal
    between the Spark projection and the SQL oracle twin (the same
    role the seeded hyperplanes play for LSH).  Signs, not Gaussians:
    products against ±1.0 are EXACT sign flips, so a left-associated
    sum mirrors bit-for-bit across engines."""
    rs = np.random.RandomState(seed)
    return rs.choice([-1.0, 1.0], size=(k, dim)).tolist()


def jl_project(vec_col: Column, mat: list[list[float]]) -> Column:
    """Project an array<double> column through a literal JL sign
    matrix: out[j] = Σ_d mat[j][d]·v[d], each output a fixed
    left-associated Catalyst expression (element_at chains — no HOF,
    no Python; whole-stage codegen applies).  Cosine against a scaled
    projection is scale-free, so the 1/√k normalizer is omitted.

    Scale note: this is k·dim multiply-adds per row of pure projection
    — embarrassingly parallel, no shuffle; for k·dim beyond ~10⁴
    switch to the Arrow matmul kernel (with_lsh_buckets' path), which
    does the same arithmetic in BLAS."""
    from functools import reduce

    outs = []
    for row in mat:
        terms = [
            F.element_at(vec_col, d + 1) * F.lit(float(s))
            for d, s in enumerate(row)
        ]
        outs.append(reduce(lambda a, b: a + b, terms))
    return F.array(*outs)


def mutual_knn_pairs(
    side_a: DataFrame,
    side_b: DataFrame,
    k_margin: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual-nearest-neighbor pair mining with ratio-margin scoring —
    the bitext/alignment-mining primitive (Artetxe & Schwenk ACL'19
    margin criterion; public method): a pair (a, b) is emitted iff b is
    a's single nearest neighbor in B AND a is b's single nearest in A,
    scored by cos(a,b) relative to each side's top-k neighborhood mean.

    Exactness discipline: cosines are round6-quantized FIRST, then
    carried as BIGINT micro-units, so the top-k neighborhood sums are
    exact integers and each margin is c6·k/S6 — one double division,
    round6 — bit-identical across engines regardless of accumulation
    order (a raw float mean of k cosines would be order-dependent).

    Plan: ONE scored relation (A ⨝ broadcast(B), cosine in codegen —
    vectors never shuffle) feeds BOTH argmax directions and both
    neighborhood sums; the per-id top-k tables are id-dimension-sized.
    Ties break by neighbor id ascending in both engines.  At corpus
    scale both sides are large: production swaps the broadcast scored
    relation for IVF-bucketed candidates (``ivf_assign`` cells, same
    downstream windows) — the mutual/margin logic is unchanged; the
    broadcast form here is the exact twin that oracles it.

    r6 perf (guide §4.2): the scored relation is built by
    ``_scored_pairs_arrow`` — one Arrow stage whose BLAS matmul replaces
    the per-pair interpreted HOF cosine of the old
    ``A ⨝ broadcast(B)`` + ``cosine_expr`` form (the same swap
    ``with_lsh_buckets`` made after the same measurement; ~50 µs/pair
    interpreted vs one dgemm per batch).  c6 = floor(cos·1e6 + 0.5) as
    before; sub-round6 summation-order ulps are absorbed by the e6
    quantization exactly as in ``with_ivf_cells``' cos6 (the oracle
    computes its own ``list_cosine_similarity``, so cross-engine
    agreement has always rested on the quantization, not on a shared
    fold order)."""
    scored = _scored_pairs_arrow(side_a, side_b, id_col, vec_col)
    return _mutual_from_scored(scored, k_margin)


def _scored_pairs_arrow(
    side_a: DataFrame,
    side_b: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: "np.ndarray | None" = None,
    nprobe: int = 0,
) -> DataFrame:
    """(a_id, b_id, c6) candidate scoring in ONE shuffle-free Arrow
    stage: the B side is collected to the driver and shipped inside the
    kernel closure — the exact memory shape of the ``F.broadcast(B)``
    join it replaces (a broadcast relation is driver-collected and
    shipped to every executor too); at corpus scale both sides
    co-partition by cell id instead, as the callers' docstrings state.

    With ``centroids`` given, each A row probes its ``nprobe``
    highest-cos6 cells (ties toward the lower cell id — stable argsort
    on the NEGATED quantized cosines, the same order as the JVM
    ``array_sort(struct(-cos6, cell))`` it replaces) and is scored only
    against the B rows argmax-assigned there — the identical assignment
    arithmetic as ``with_ivf_cells``.  c6 = floor(cos·1e6 + 0.5) with
    cos = dot / max(|a|·|b|, 1e-12), all IEEE doubles."""
    from pyspark.sql import types as T

    spark = side_a.sparkSession
    out_schema = T.StructType(
        [
            T.StructField("a_id", side_a.schema[id_col].dataType),
            T.StructField("b_id", side_b.schema[id_col].dataType),
            T.StructField("c6", T.LongType()),
        ]
    )
    b_rows = side_b.select(id_col, vec_col).collect()
    if not b_rows:
        return spark.createDataFrame([], out_schema)
    VB = np.array([list(r[1]) for r in b_rows], dtype=np.float64)
    b_ids = np.array([r[0] for r in b_rows])
    nb_norm = np.sqrt(np.einsum("ij,ij->i", VB, VB))
    dim = VB.shape[1]
    groups = None
    c_t = c_norm = None
    n_cells = 0
    if centroids is not None:
        cn = centroids / np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
        b_cell = np.argmax(VB @ cn.T, axis=1)
        c_t = centroids.T.copy()
        c_norm = np.linalg.norm(centroids, axis=1)
        n_cells = int(centroids.shape[0])
        groups = []
        for c in range(n_cells):
            idx = np.nonzero(b_cell == c)[0]
            groups.append((b_ids[idx], VB[idx], nb_norm[idx]))

    a = side_a.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("_v"))
    # bound rows per emitted RecordBatch so one wide A-batch times a
    # large B side cannot balloon worker memory
    max_out = 2_000_000

    def score(batches):
        import pyarrow as pa

        def emit(a_part, b_part, c_part):
            return pa.RecordBatch.from_arrays(
                [pa.array(a_part), pa.array(b_part), pa.array(c_part)],
                names=["a_id", "b_id", "c6"],
            )

        for bt in batches:
            m = bt.num_rows
            if m == 0:
                continue
            col = bt.column(bt.schema.get_field_index("_v"))
            va = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(m, dim)
            )
            a_np = bt.column(bt.schema.get_field_index("a_id")).to_numpy(
                zero_copy_only=False
            )
            na = np.sqrt(np.einsum("ij,ij->i", va, va))
            if groups is None:
                n_b = VB.shape[0]
                step = max(1, max_out // max(n_b, 1))
                for lo in range(0, m, step):
                    hi = min(m, lo + step)
                    sub, sna = va[lo:hi], na[lo:hi]
                    den = np.maximum(sna[:, None] * nb_norm[None, :], 1e-12)
                    c6 = np.floor((sub @ VB.T) / den * 1e6 + 0.5).astype(
                        np.int64
                    )
                    yield emit(
                        np.repeat(a_np[lo:hi], n_b),
                        np.tile(b_ids, hi - lo),
                        c6.ravel(),
                    )
                continue
            dots = va @ c_t
            den = np.maximum(na[:, None] * c_norm[None, :], 1e-12)
            cos6 = np.floor(dots / den * 1e6 + 0.5) / 1e6
            order = np.argsort(-cos6, axis=1, kind="stable")[:, :nprobe]
            for c in range(n_cells):
                gids, gmat, gnorm = groups[c]
                if gids.size == 0:
                    continue
                mask = (order == c).any(axis=1)
                if not mask.any():
                    continue
                sub, sna, sa = va[mask], na[mask], a_np[mask]
                step = max(1, max_out // max(gids.size, 1))
                for lo in range(0, sub.shape[0], step):
                    hi = min(sub.shape[0], lo + step)
                    d2 = np.maximum(
                        sna[lo:hi, None] * gnorm[None, :], 1e-12
                    )
                    c6m = np.floor(
                        (sub[lo:hi] @ gmat.T) / d2 * 1e6 + 0.5
                    ).astype(np.int64)
                    yield emit(
                        np.repeat(sa[lo:hi], gids.size),
                        np.tile(gids, hi - lo),
                        c6m.ravel(),
                    )

    return a.mapInArrow(score, schema=out_schema)


def _mutual_from_scored(scored: DataFrame, k_margin: int) -> DataFrame:
    """Shared back half of the mutual-kNN family: given a scored
    relation (a_id, b_id, c6 BIGINT micro-cosine), rank both directions,
    build the exact integer k-neighborhood sums, and emit the mutual
    rank-1 pairs with round6 ratio margins.

    r6 plan rewrite (guide §2.3/§2.4): the previous form branched the
    scored relation into THREE consumers (mutual filter + two filtered
    groupBys re-joined back), each of which recomputed the entire
    quadratic scoring (no ReusedExchange across the branches — measured
    3× the candidate-scoring cost of emb_mutual_knn_ivf at sf1.0) and
    shuffled the FULL candidate relation.  New shape: each direction is
    one rank window whose ``row_number() <= k_margin`` filter triggers
    Spark's map-side WindowGroupLimit, so the exchange carries at most
    k_margin rows per id instead of every candidate (50M → ~40k rows at
    sf1.0); the k-neighborhood sum/count then run as window aggregates
    over the SAME partitioning (no further exchange), and the two
    dimension-sized rank-1 tables join on (a_id, b_id) pair equality —
    a pair is mutual iff each side is the other's rank 1, so the inner
    join IS the mutual filter.  The scored relation is recomputed once
    per direction — it is one cheap shuffle-free Arrow/BLAS stage
    (``_scored_pairs_arrow``), embarrassingly parallel; trading that
    recompute for the two full-relation shuffles is guide §2.3 "shuffle
    fewer bytes" verbatim.  Sums/counts/ranks are bit-identical: the
    group-limit prunes exactly the rows the old filtered groupBy
    discarded."""
    from pyspark.sql import Window

    wf = Window.partitionBy("a_id").orderBy(F.desc("c6"), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("c6"), F.asc("a_id"))
    wfa = Window.partitionBy("a_id")
    wba = Window.partitionBy("b_id")
    fwd = (
        scored.withColumn("rnf", F.row_number().over(wf))
        .filter(F.col("rnf") <= k_margin)
        .withColumn("s6_fwd", F.sum("c6").over(wfa))
        .withColumn("k_fwd", F.count(F.lit(1)).over(wfa))
        .filter(F.col("rnf") == 1)
        .select("a_id", "b_id", "c6", "s6_fwd", "k_fwd")
    )
    bwd = (
        scored.withColumn("rnb", F.row_number().over(wb))
        .filter(F.col("rnb") <= k_margin)
        .withColumn("s6_bwd", F.sum("c6").over(wba))
        .withColumn("k_bwd", F.count(F.lit(1)).over(wba))
        .filter(F.col("rnb") == 1)
        .select(
            F.col("a_id").alias("_a2"),
            F.col("b_id").alias("_b2"),
            "s6_bwd",
            "k_bwd",
        )
    )
    return (
        fwd.join(
            bwd,
            (F.col("a_id") == F.col("_a2")) & (F.col("b_id") == F.col("_b2")),
        )
        .select(
            "a_id",
            "b_id",
            round6(F.col("c6") / F.lit(1e6)).alias("cosine"),
            round6(
                (F.col("c6") * F.col("k_fwd"))
                / F.when(F.col("s6_fwd") != 0, F.col("s6_fwd"))
            ).alias("margin_fwd"),
            round6(
                (F.col("c6") * F.col("k_bwd"))
                / F.when(F.col("s6_bwd") != 0, F.col("s6_bwd"))
            ).alias("margin_bwd"),
        )
        .orderBy("a_id")
    )


def mutual_knn_ivf(
    side_a: DataFrame,
    side_b: DataFrame,
    centroids: "np.ndarray",
    nprobe: int = 4,
    k_margin: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-bucketed mutual-kNN mining — the scale path
    ``mutual_knn_pairs``'s docstring promises: instead of scoring every
    A×B pair, each A row probes only its ``nprobe`` nearest IVF cells
    and scores the B rows ASSIGNED to those cells; the mutual/margin
    back half (``_mutual_from_scored``) is byte-identical to the exact
    form.  Each (a, b) candidate appears at most once by construction
    (b lives in exactly one cell), so no dedup pass is needed.

    Approximation surface: a true mutual pair is found iff a probes b's
    cell AND the relevant k-neighborhoods inside the probed cells agree
    with the global ones — the standard IVF recall trade, audited by
    ``test_mutual_knn_ivf_recall`` against the exact form (the registry
    oracle mirrors this full algorithm, misses included, so the Spark
    plumbing is value-hash-checked, not just recall-bounded).

    Scale shape (r6, guide §4.2): candidate generation + scoring is ONE
    shuffle-free Arrow stage (``_scored_pairs_arrow``): probe ranking
    uses the same quantized-cos6 order as the old
    ``with_ivf_cells(with_cosines=True)`` + ``array_sort(struct(-cos6,
    cell))`` pipeline, the B side rides the kernel closure exactly as it
    previously rode a broadcast relation (both are driver-collected and
    shipped per executor), and the per-candidate cosine is a BLAS
    matmul instead of an interpreted per-pair HOF (measured 30.3 s →
    ~3 s at sf1.0).  At corpus scale both sides co-partition by cell id
    instead — one bounded exchange per side, never a cross product."""
    scored = _scored_pairs_arrow(
        side_a, side_b, id_col, vec_col, centroids=centroids, nprobe=nprobe
    )
    return _mutual_from_scored(scored, k_margin)


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k: int = 8,
    n_cells: int = 16,
    nprobe: int = 4,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVFADC — the full inverted-file + product-quantization search
    stack (Jégou, Douze & Schmid, TPAMI 2011; the FAISS default;
    public method): a coarse quantizer routes each query to ``nprobe``
    of ``n_cells`` cells, and the members of those cells are scored by
    ASYMMETRIC distance — the query side stays float while the database
    side is its m PQ codes, so the score is m table lookups instead of
    a d-dim dot product.  This composes the repo's two ANN halves
    (``with_ivf_cells`` routing, ``pq_fit`` codebooks) into the shape a
    10^12-vector index actually ships: 64-dim float32 → m=4 bytes per
    database vector in cell-local posting lists.

    Exactness discipline: every ADC distance-table entry is a strict
    LEFT-FOLD sum of (q_j − c_j)² in subscript order (a Python loop
    driver-side — numpy's pairwise summation can differ in the last
    ulp and flip the e6 floor), quantized to BIGINT micro-units; a
    vector's ADC score is then an exact integer SUM of m table entries,
    so ranking ties break identically in both engines (adc asc, id
    asc).  The DuckDB oracle mirrors the entire chain — centroids,
    argmax-cosine cells, one-Lloyd-round codebooks, code assignment,
    probe ranking, table build, lookup-sum — so IVFADC's misses are
    value-hash-checked, never recall-excused.

    Scale shape: cell assignment and code assignment are projections
    off one scan each (vectors never shuffle); the probe set and the
    (n_q × m × k) distance table enter as broadcasts; the only
    fact-scale exchange is the (query, vec) hash-agg summing m rows
    per candidate.  Returns (query_id, vec_id, adc_e6, rank)."""
    from pyspark.sql import Window

    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        return _empty_topk(embeddings, queries, id_col, query_id_col).drop(
            "cosine"
        ).withColumn("adc_e6", F.lit(None).cast("long"))
    cents_rows = (
        embeddings.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    )
    if not cents_rows:
        return _empty_topk(embeddings, queries, id_col, query_id_col).drop(
            "cosine"
        ).withColumn("adc_e6", F.lit(None).cast("long"))
    C = np.array([r[0] for r in cents_rows], dtype=np.float64)
    C1 = pq_fit(embeddings, m, k, id_col, vec_col)
    dsub = C1[0].shape[1]

    cells = with_ivf_cells(
        embeddings.select(id_col, vec_col), C, vec_col
    ).select(id_col, "cell")
    codes = _pq_assign_arrow(embeddings, C1, id_col, vec_col).select(
        F.col("_id").alias(id_col), "s", "code"
    )

    cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    qv = np.array([r[1] for r in qrows], dtype=np.float64)
    order = np.argsort(-(qv @ cn.T), axis=1, kind="stable")[:, :nprobe]
    from pyspark.sql import types as T

    qid_t = queries.schema[query_id_col].dataType
    probes = queries.sparkSession.createDataFrame(
        [
            (int(order[i, p]), r[0])
            for i, r in enumerate(qrows)
            for p in range(order.shape[1])
        ],
        T.StructType(
            [
                T.StructField("cell", T.IntegerType()),
                T.StructField(query_id_col, qid_t),
            ]
        ),
    )
    # ADC table: strict left-fold per entry, e6-floored to BIGINT
    dt_rows = []
    for i, r in enumerate(qrows):
        q = np.asarray(r[1], dtype=np.float64)
        for s in range(m):
            qs = q[s * dsub : (s + 1) * dsub]
            for c in range(C1[s].shape[0]):
                cv = C1[s][c]
                acc = 0.0
                for j in range(dsub):
                    t = float(qs[j]) - float(cv[j])
                    acc += t * t
                dt_rows.append((r[0], s, c, int(np.floor(acc * 1e6 + 0.5))))
    dt = queries.sparkSession.createDataFrame(
        dt_rows,
        T.StructType(
            [
                T.StructField(query_id_col, qid_t),
                T.StructField("s", T.IntegerType()),
                T.StructField("code", T.IntegerType()),
                T.StructField("d_e6", T.LongType()),
            ]
        ),
    )
    members = cells.join(F.broadcast(probes), "cell").select(
        query_id_col, id_col
    )
    scored = (
        members.join(codes, id_col)
        .join(F.broadcast(dt), [query_id_col, "s", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("d_e6").cast("long").alias("adc_e6"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.asc("adc_e6"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .orderBy(query_id_col, "rank")
    )
