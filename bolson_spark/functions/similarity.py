"""Similarity search over the `embeddings` table (array<float> vectors).

Scale design:

- **knn_bruteforce** — exact cosine top-k against one query vector. The
  query vector is a broadcast literal; scoring is a narrow map with
  ``zip_with`` + ``aggregate`` (JVM-side, codegen); top-k is
  ``orderBy(...).limit(k)`` which Spark executes as per-partition
  TakeOrdered (no global sort shuffle of the full table).
- **ivf_assign / ivf_knn** — the scale path (IVF-flat): assign every
  vector to its nearest centroid (broadcast centroid list, narrow map);
  probe only the query's cluster at search time. At 100 TB the assign
  step is one pass, and a probe touches 1/C of the data; cluster id is
  also the natural partitioning/bucketing key for the index table.

Floating point & oracle parity: dot products accumulate in float64 in
strict index order (``aggregate`` over ``zip_with``); final scores are
rounded to 6 decimals on both engines before comparison.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Sequential-order float64 dot product of two array columns."""
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


def cosine_similarity_col(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def double_array_lit(values) -> Column:
    """(Nested) list of finite floats -> ONE array literal Column via a
    single SQL-string parse. PySpark's F.lit(list) unrolls into one
    py4j round-trip PER ELEMENT (an m x k x d codebook literal cost
    ~0.8 s of pure driver time per call, measured); formatting the SQL
    text in Python and letting the JVM parse it once is ~45x faster
    and bit-identical (repr() is the shortest round-tripping decimal,
    and Spark's double parser is correctly rounded). Falls back to
    F.lit for empty / non-finite input, where the SQL text form is
    ambiguous."""
    import math

    def fmt(x):
        if isinstance(x, (list, tuple)):
            if not x:
                raise ValueError("empty")
            return "array(" + ",".join(fmt(v) for v in x) + ")"
        v = float(x)
        if not math.isfinite(v):
            raise ValueError("non-finite")
        return repr(v) + "D"

    try:
        return F.expr(fmt(values))
    except ValueError:
        return F.lit(values)


def _query_vector_lit(query_vec: list[float]) -> Column:
    return double_array_lit([float(x) for x in query_vec])


def knn_bruteforce(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine to `query_vec`; deterministic tiebreak on id."""
    q = _query_vector_lit(query_vec)
    scored = df.select(
        F.col(id_col),
        F.round(cosine_similarity_col(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def blocked_nearest_neighbor(
    df: DataFrame,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-1 neighbor per vector within its block (label/cluster).

    The blocked self-equi-join is the scale pattern for pairwise vector
    ops: candidate pairs are limited to same-block, the join is hash-
    partitioned on the block key (no cross join), and the per-vector
    argmax is a partial-aggregatable ``max_by`` (map-side combine; no
    per-group sort, unlike a row_number window). Per-vector norms are
    computed ONCE in the narrow pre-join projection — computing them
    per pair would redo O(dim) work |block| times per vector. With IVF
    cluster ids as the block key this is exactly the probe step of a
    distributed ANN index.

    No registry query runs this join route; it is kept as the
    independent check on the GEMM routes
    (:func:`blocked_nearest_neighbor_gemm` is tested equal to it, and
    the tiled twin to the GEMM)."""
    a = df.select(
        F.col(id_col).alias("vec_id_a"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("norm_a"),
    )
    b = df.select(
        F.col(id_col).alias("vec_id_b"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("norm_b"),
    )
    pairs = a.join(b, "block").where(F.col("vec_id_a") != F.col("vec_id_b"))
    scored = pairs.select(
        F.col("vec_id_a").alias("vec_id"),
        "block",
        F.col("vec_id_b").alias("nn_id"),
        F.round(
            dot(F.col("vec_a"), F.col("vec_b"))
            / (F.col("norm_a") * F.col("norm_b")),
            6,
        ).alias("cosine"),
    )
    best = F.max_by(
        F.struct(F.col("nn_id"), F.col("cosine")),
        F.struct(F.col("cosine"), (-F.col("nn_id")).alias("neg_id")),
    ).alias("nn")
    return (
        scored.groupBy("vec_id", "block")
        .agg(best)
        .select("vec_id", "block", F.col("nn.nn_id").alias("nn_id"), F.col("nn.cosine").alias("cosine"))
    )


def blocked_nearest_neighbor_gemm(
    df: DataFrame,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Same semantics as :func:`blocked_nearest_neighbor`, executed as a
    per-block dense GEMM inside ``applyInPandas``.

    Scale rationale: within a block the all-pairs cosine IS a matrix
    product (S = M·Mᵀ / n·nᵀ). One vectorized BLAS call per block
    replaces |block|² interpreted per-pair dot-product expressions —
    this is the canonical case where a Pandas UDF beats built-ins
    (dense linear algebra, not expressible as an equi-join predicate).
    The groupBy ships each block to one task, so blocks must fit in
    executor memory — exactly the IVF-cell sizing constraint a 100 TB
    ANN index has anyway (bound cell size; split oversized cells).

    Determinism/oracle parity: scores accumulate in float64 and are
    rounded to 6 decimals; ties broken by lowest neighbor id (rows are
    sorted by id, argmax takes the first maximum).
    """
    import numpy as np
    import pandas as pd

    out_fields = []
    for name, src in (
        ("vec_id", id_col),
        ("block", block_col),
        ("nn_id", id_col),
    ):
        out_fields.append(
            f"{name} {df.schema[src].dataType.simpleString()}"
        )
    out_schema = ", ".join(out_fields) + ", cosine double"

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                columns=["vec_id", "block", "nn_id", "cosine"]
            )
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        sims = (m @ m.T) / np.outer(norms, norms)
        np.fill_diagonal(sims, -np.inf)
        sims = np.round(sims, 6)
        # argmax returns the FIRST max -> lowest nn_id after the sort
        best = sims.argmax(axis=1)
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "vec_id": ids,
                "block": pdf[block_col].to_numpy(),
                "nn_id": ids[best],
                "cosine": sims[np.arange(n), best],
            }
        )

    return df.groupBy(block_col).applyInPandas(per_block, out_schema)


def _with_tiles(
    df: DataFrame, block_col: str, id_col: str, max_block: int
) -> DataFrame:
    """Replicate rows into bounded chunk-pair tiles within each block.

    Rows are hash-assigned to ``ceil(|block| / max_block)`` chunks; a
    tile is a chunk pair (ca <= cb) and every row lands in each tile it
    participates in — as the left operand of tiles (my_chunk, cb>=my_chunk)
    and the right operand of tiles (ca<my_chunk, my_chunk). A downstream
    ``groupBy(block, _ca, _cb)`` then sees at most 2*max_block vectors
    per task regardless of block size: this is the oversized-IVF-cell
    splitting that makes per-block GEMM safe at 100 TB (an unsplit
    groupBy(block).applyInPandas materializes the whole cell in one
    task). Replication factor is nchunks ≈ |block|/max_block.
    """
    # One row per block — with IVF-cell blocking the block count is an
    # index parameter (e.g. 2^13 cells), so the size table broadcasts.
    sizes = df.groupBy(block_col).agg(
        F.ceil(F.count(F.lit(1)) / F.lit(max_block)).cast("int").alias("_nchunks")
    )
    ch = df.join(F.broadcast(sizes), block_col).withColumn(
        "_chunk", F.pmod(F.xxhash64(F.col(id_col)), F.col("_nchunks")).cast("int")
    )
    # ONE generate builds every (ca, cb, side) tile membership per row
    # (r11): the previous left/right union consumed `ch` twice, so an
    # uncached input pipeline (the blocked join + assign upstream) was
    # evaluated once for the size table and TWICE more for the union
    # arms — 3 full passes where 2 suffice. Same multiset of tile
    # rows; per_tile sorts by id, so arrival order is immaterial.
    t_ty = "array<struct<_ca:int,_cb:int,_side:int>>"
    tiles = F.concat(
        F.transform(
            F.sequence(F.col("_chunk"), F.col("_nchunks") - 1),
            lambda j: F.struct(
                F.col("_chunk").alias("_ca"),
                j.alias("_cb"),
                F.lit(1).alias("_side"),
            ),
        ),
        F.when(
            F.col("_chunk") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("_chunk") - 1),
                lambda i: F.struct(
                    i.alias("_ca"),
                    F.col("_chunk").alias("_cb"),
                    F.lit(0).alias("_side"),
                ),
            ),
        ).otherwise(F.array().cast(t_ty)),
    )
    return (
        ch.select("*", F.explode(tiles).alias("_t"))
        .select(
            "*",
            F.col("_t._ca").alias("_ca"),
            F.col("_t._cb").alias("_cb"),
            F.col("_t._side").alias("_side"),
        )
        .drop("_t", "_chunk", "_nchunks")
    )


def blocked_nearest_neighbor_gemm_tiled(
    df: DataFrame,
    max_block: int = 4096,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Memory-bounded twin of :func:`blocked_nearest_neighbor_gemm`:
    identical output, but each task holds <= 2*max_block vectors (tiled
    GEMM over chunk pairs + a final map-side-combinable argmax).

    Both routes stay: on the sf0.1 embeddings (2000 rows, 4 cores, 8
    interleaved pairs, equal outputs) the unsplit GEMM took 0.67 s
    against 2.11 s tiled, so it wins on small blocks, while only the
    tiled route bounds an oversized block. Merging them needs a
    block-size selection."""
    import numpy as np
    import pandas as pd

    id_t = df.schema[id_col].dataType.simpleString()
    block_t = df.schema[block_col].dataType.simpleString()
    cand_schema = (
        f"vec_id {id_t}, block {block_t}, nn_id {id_t}, cosine double"
    )

    def per_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {"vec_id": [], "block": [], "nn_id": [], "cosine": []}
        diag = pdf["_ca"].iat[0] == pdf["_cb"].iat[0]
        lhs = pdf[pdf["_side"] == 1].sort_values(id_col).reset_index(drop=True)
        rhs = (
            lhs
            if diag
            else pdf[pdf["_side"] == 0].sort_values(id_col).reset_index(drop=True)
        )
        if len(lhs) == 0 or len(rhs) == 0 or (diag and len(lhs) < 2):
            return pd.DataFrame(out)
        ml = np.stack(lhs[vec_col].to_numpy()).astype(np.float64)
        mr = np.stack(rhs[vec_col].to_numpy()).astype(np.float64)
        nl = np.sqrt((ml * ml).sum(axis=1))
        nr = np.sqrt((mr * mr).sum(axis=1))
        sims = np.round((ml @ mr.T) / np.outer(nl, nr), 6)
        if diag:
            np.fill_diagonal(sims, -np.inf)
        lid = lhs[id_col].to_numpy()
        rid = rhs[id_col].to_numpy()
        blocks = lhs[block_col].to_numpy()
        # best candidate per left row (first max -> lowest id tiebreak)
        bl = sims.argmax(axis=1)
        out["vec_id"].extend(lid)
        out["block"].extend(blocks)
        out["nn_id"].extend(rid[bl])
        out["cosine"].extend(sims[np.arange(len(lid)), bl])
        if not diag:
            br = sims.argmax(axis=0)
            out["vec_id"].extend(rid)
            out["block"].extend(rhs[block_col].to_numpy())
            out["nn_id"].extend(lid[br])
            out["cosine"].extend(sims[br, np.arange(len(rid))])
        return pd.DataFrame(out)

    cands = _with_tiles(df, block_col, id_col, max_block).groupBy(
        block_col, "_ca", "_cb"
    ).applyInPandas(per_tile, cand_schema)
    best = F.max_by(
        F.struct(F.col("nn_id"), F.col("cosine")),
        F.struct(F.col("cosine"), (-F.col("nn_id")).alias("neg_id")),
    ).alias("nn")
    return (
        cands.groupBy("vec_id", "block")
        .agg(best)
        .select(
            "vec_id",
            "block",
            F.col("nn.nn_id").alias("nn_id"),
            F.col("nn.cosine").alias("cosine"),
        )
    )


def embedding_cosine_pairs_tiled(
    df: DataFrame,
    max_block: int = 4096,
    threshold: float = 0.95,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Memory-bounded twin of :func:`embedding_cosine_pairs`: identical
    pair set, each task bounded at 2*max_block vectors. Every unordered
    same-block pair appears in exactly one tile (its chunk pair), so no
    dedup pass is needed.

    Both routes stay for the reason given at
    :func:`blocked_nearest_neighbor_gemm_tiled` (same sf0.1 A/B:
    0.44 s unsplit vs 0.81 s tiled; the tiled route bounds oversized
    blocks)."""
    import numpy as np
    import pandas as pd

    id_t = df.schema[id_col].dataType.simpleString()
    block_t = df.schema[block_col].dataType.simpleString()
    out_schema = (
        f"vec_a {id_t}, vec_b {id_t}, block {block_t}, cosine double"
    )

    def per_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_a": [], "vec_b": [], "block": [], "cosine": []}
        )
        diag = pdf["_ca"].iat[0] == pdf["_cb"].iat[0]
        lhs = pdf[pdf["_side"] == 1].sort_values(id_col).reset_index(drop=True)
        rhs = (
            lhs
            if diag
            else pdf[pdf["_side"] == 0].sort_values(id_col).reset_index(drop=True)
        )
        if len(lhs) == 0 or len(rhs) == 0 or (diag and len(lhs) < 2):
            return empty
        ml = np.stack(lhs[vec_col].to_numpy()).astype(np.float64)
        mr = np.stack(rhs[vec_col].to_numpy()).astype(np.float64)
        nl = np.sqrt((ml * ml).sum(axis=1))
        nr = np.sqrt((mr * mr).sum(axis=1))
        sims = np.round((ml @ mr.T) / np.outer(nl, nr), 6)
        lid = lhs[id_col].to_numpy()
        rid = rhs[id_col].to_numpy()
        if diag:
            iu, ju = np.triu_indices(len(lhs), k=1)
        else:
            iu, ju = np.indices(sims.shape).reshape(2, -1)
        keep = sims[iu, ju] >= threshold
        iu, ju = iu[keep], ju[keep]
        if len(iu) == 0:
            return empty
        a, b = lid[iu], rid[ju]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {
                "vec_a": lo,
                "vec_b": hi,
                "block": lhs[block_col].to_numpy()[iu],
                "cosine": sims[iu, ju],
            }
        )

    return (
        _with_tiles(df, block_col, id_col, max_block)
        .groupBy(block_col, "_ca", "_cb")
        .applyInPandas(per_tile, out_schema)
    )


def lsh_hyperplanes(
    num_planes: int = 8, dim: int = 64, seed: int = 42
) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH (cosine family),
    rounded to 6 decimals so the identical literals embed in both the
    Spark plan and the SQL oracle."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return [
        [round(float(x), 6) for x in row]
        for row in rs.standard_normal((num_planes, dim))
    ]


def lsh_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = (vec · plane_i >= 0). Narrow map —
    the bucket is the partition/bucketing key of a cosine ANN index;
    two vectors share a bucket iff no hyperplane separates them."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        p = double_array_lit([float(x) for x in plane])
        bucket = bucket + F.when(dot(vec, p) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
    return bucket


def ann_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k by cosine, probing the query's sign-LSH bucket
    plus all buckets within `max_hamming` bit flips (multi-probe) — the
    LSH-bucketed alternative to IVF: no training step, bucket id is
    pure arithmetic, at scale the index table is written bucketed/
    partitioned by bucket id so a probe reads 1 + num_planes
    partitions at the default hamming radius 1. Recall tuning:
    `num_planes` down (bigger buckets) or `max_hamming` up (more
    buckets probed). On the synthetic near-orthogonal corpus (the
    hardest case — buckets carry little signal) hamming-1 multi-probe
    doubles recall vs single-probe at num_planes=6 while probing 7/64
    of the space; on clustered real embeddings the lift is larger."""
    planes = lsh_hyperplanes(num_planes, len(query_vec), seed)
    q = _query_vector_lit(query_vec)
    probe = df.where(
        F.bit_count(
            lsh_bucket_col(F.col(vec_col), planes).bitwiseXOR(
                lsh_bucket_col(q, planes)
            )
        )
        <= max_hamming
    )
    scored = probe.select(
        F.col(id_col),
        F.round(cosine_similarity_col(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks: all
    (vec_a < vec_b) with cosine >= threshold, computed as one GEMM per
    block (upper-triangle emit).

    This is the embedding-space analog of MinHash near-dup detection:
    blocking (label / IVF cluster id) bounds the candidate set so the
    pairwise stage is per-block O(|block|²) instead of corpus-global
    O(n²) — the only formulation that survives 100 TB. The groupBy
    ships one block per task; block size is the memory envelope, the
    same constraint an IVF index already enforces.
    """
    import numpy as np
    import pandas as pd

    id_t = df.schema[id_col].dataType.simpleString()
    block_t = df.schema[block_col].dataType.simpleString()
    out_schema = (
        f"vec_a {id_t}, vec_b {id_t}, block {block_t}, cosine double"
    )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(columns=["vec_a", "vec_b", "block", "cosine"])
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        sims = np.round((m @ m.T) / np.outer(norms, norms), 6)
        iu, ju = np.triu_indices(n, k=1)
        keep = sims[iu, ju] >= threshold
        iu, ju = iu[keep], ju[keep]
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "vec_a": ids[iu],
                "vec_b": ids[ju],
                "block": pdf[block_col].to_numpy()[iu],
                "cosine": sims[iu, ju],
            }
        )

    return df.groupBy(block_col).applyInPandas(per_block, out_schema)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine).

    Implemented as broadcast-join + argmax via ``max_by`` grouped on the
    vector id — the centroid table is tiny by construction, so the join
    is a BroadcastNestedLoop over C rows per vector, then a map-side
    combinable argmax. Deterministic tiebreak: higher cosine, then lower
    centroid id (max_by on a (cosine, -cid) struct).
    """
    # Vector norm computed once per row (narrow map), not once per
    # (row × centroid) pair.
    with_norm = df.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("_vnorm")
    )
    cents = centroids.select(
        F.col(cent_id),
        F.col(cent_vec),
        norm(F.col(cent_vec)).alias("_cnorm"),
    )
    j = with_norm.crossJoin(F.broadcast(cents))
    sim = F.round(
        dot(F.col(vec_col), F.col(cent_vec))
        / (F.col("_vnorm") * F.col("_cnorm")),
        6,
    ).alias("sim")
    scored = j.select(F.col(id_col), F.col(cent_id), sim)
    return scored.groupBy(id_col).agg(
        F.max_by(
            F.col(cent_id), F.struct(F.col("sim"), (-F.col(cent_id)).alias("neg"))
        ).alias("cluster"),
        F.max("sim").alias("cluster_sim"),
    )


def ivf_assign_gemm(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`ivf_assign` for LARGE centroid sets: the expression-based
    crossJoin materializes N×C rows JVM-side, which is fine at C≈8-64
    but dominates when the cell count scales with the corpus (the
    `dedup_embedding_ivf` production rule). Here the centroid matrix
    ships ONCE per task as a plain closure capture (bounded by C rows
    — the cell count the caller chose, never corpus size) and each
    Arrow batch scores against it with one BLAS GEMM; output is one
    row per input row, zero joins, zero shuffles.

    Result-equal to :func:`ivf_assign` (tested): same ROUND(sim, 6)
    grain, same tiebreak (max sim, then LOWEST centroid id — argmax's
    first-max over id-ascending rows). Honest ceiling: the captured
    matrix is C×dim float64 (~500 MB at C=1e6, dim=64); past that a
    two-level coarse quantizer (assign to sqrt(C) super-cells, then
    within the super-cell's members) keeps both sides bounded — that
    composition is this module's own IVF machinery applied to the
    centroid set itself.

    ``carry`` names extra input columns passed through unchanged —
    callers that need (id, vector, cluster) downstream (the dedup
    blocking) avoid re-joining the assignment back to the corpus,
    which would be a full N-row shuffle join."""
    import numpy as np
    import pandas as pd

    cents = sorted(
        ((r[cent_id], list(r[cent_vec])) for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cids = np.array([c[0] for c in cents], dtype=np.int64)
    cmat = np.array([c[1] for c in cents], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    id_t = df.schema[id_col].dataType.simpleString()
    cid_t = centroids.schema[cent_id].dataType.simpleString()
    carry_t = {c: df.schema[c].dataType.simpleString() for c in carry}
    out_schema = f"{id_col} {id_t}, cluster {cid_t}, cluster_sim double" + "".join(
        f", {c} {t}" for c, t in carry_t.items()
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xn = np.sqrt((x * x).sum(axis=1))
            sims = np.round((x @ cmat.T) / np.outer(xn, cnorm), 6)
            best = sims.argmax(axis=1)  # first max = lowest cid
            sim = sims[np.arange(len(best)), best]
            out = {
                id_col: pdf[id_col],
                "cluster": cids[best],
                "cluster_sim": sim,
            }
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    cols = [id_col, vec_col] + [c for c in carry if c != vec_col]
    return df.select(*cols).mapInPandas(assign, out_schema)


def dedup_embedding_ivf(
    df: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = None,
    target_cell: int = 512,
    max_block: int = 4096,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scale-safe IVF-blocked embedding near-dup — the production form
    of the `dedup_embedding_ivf` registry query, with the cell count a
    FUNCTION OF CORPUS SIZE instead of a constant.

    ``n_cells=None`` derives ``max(1, N // target_cell)`` from one
    count() (a bounded driver scalar), holding the EXPECTED CELL SIZE
    ~constant as the corpus grows: per-cell pair space stays
    ~target_cell²/2 flat, so total pairwise work is
    n_cells·target_cell²/2 ≈ N·target_cell/2 — LINEAR in N, where the
    registry's fixed 8 cells (kept as-is for oracle determinism) is
    quadratic/8. The trade is the coarse-assignment stage, N×n_cells
    BLAS flops via :func:`ivf_assign_gemm`. Seed centroids are
    the n_cells lowest-id vectors (deterministic, TakeOrdered);
    production callers refine them with :func:`kmeans_refine` — the
    blocking stays approximate either way (cross-cell pairs unseen),
    exactly like a production IVF probe."""
    if n_cells is None:
        n_cells = max(1, df.count() // target_cell)
    seeds = (
        df.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid"),
        )
    )
    # the vector rides THROUGH the assign stage (carry) — re-joining
    # the assignment back to the corpus would be a full N-row shuffle.
    # The tiling stage references its input three times (cell sizes +
    # both tile sides), so the assigned frame is persisted or the GEMM
    # would recompute per reference (measured 4 MapInPandas nodes in
    # the un-cached plan); MEMORY_AND_DISK spills rather than OOMs. At
    # index scale the durable form of this persist is save_ivf_index's
    # cluster-partitioned layout.
    blocked = (
        ivf_assign_gemm(
            df,
            seeds,
            vec_col=vec_col,
            id_col=id_col,
            carry=(vec_col,),
        )
        .select(id_col, vec_col, "cluster")
        .persist()
    )
    return embedding_cosine_pairs_tiled(
        blocked,
        max_block=max_block,
        threshold=threshold,
        block_col="cluster",
        vec_col=vec_col,
        id_col=id_col,
    )


def kmeans_refine(
    df: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means refinement of an IVF centroid set — the train
    step between 'pick seed centroids' and 'assign the corpus'.

    Each iteration: (1) assign every vector to its max-cosine centroid
    (broadcast centroids, map-side argmax — ivf_assign); (2) new
    centroid = per-cluster per-dimension mean via posexplode +
    groupBy(cluster, dim) — a map-side-combinable agg whose shuffle
    key space is clusters × dims, never rows. Dimensions are rounded
    to 6 decimals each iteration so the result is deterministic across
    engines (summation-order differences are ~1e-13, far below the
    rounding grain). Deterministic iteration count (no convergence
    collect) keeps the whole train declarative.

    Returns (cluster, n_members, d, c_val): the refined centroid
    coordinates as per-dimension rows plus the final member count.
    """
    cents = centroids
    assigned = None
    for _ in range(iters):
        assigned = ivf_assign(df, cents, vec_col=vec_col, id_col=id_col)
        dims = (
            df.join(assigned, id_col)
            .select("cluster", F.posexplode(vec_col).alias("d", "val"))
            .groupBy("cluster", "d")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("c_val"))
        )
        cents = _centroids_from_dims(dims)
        last_dims = dims
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        last_dims.join(sizes, "cluster")
        .select("cluster", "n_members", "d", "c_val")
    )


def _centroids_from_dims(dims: DataFrame) -> DataFrame:
    """(cluster, d, c_val) per-dimension rows -> the (centroid_id,
    centroid) table — the ONE definition of the reshape, shared by
    kmeans_refine's iteration loop and kmeans_centroid_table."""
    return (
        dims.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("d", "c_val"))).alias("pm"))
        .select(
            F.col("cluster").alias("centroid_id"),
            F.transform("pm", lambda s: s["c_val"]).alias("centroid"),
        )
    )


def kmeans_centroid_table(
    df: DataFrame,
    seeds: DataFrame,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`kmeans_refine` reshaped into the (centroid_id, centroid)
    table every assign/probe/save API takes — the missing glue between
    'pick seed centroids' and 'use refined centroids'. Empty clusters
    (seeds that captured no vectors in the final assignment) drop out,
    exactly as Lloyd's does. Deterministic: refine rounds each
    dimension to 6 decimals per iteration (see kmeans_refine)."""
    dims = kmeans_refine(
        df, seeds, iters=iters, vec_col=vec_col, id_col=id_col
    ).select("cluster", "d", "c_val")
    return _centroids_from_dims(dims)


def ivf_knn(
    df: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's `n_probe` nearest clusters.
    n_probe is THE recall/cost knob of an IVF index — each extra probe
    scans one more cell's vectors; recall approaches exact as n_probe
    -> n_clusters (measured by the `ann_recall` / `ann_recall_probe2`
    evaluation queries)."""
    q = _query_vector_lit(query_vec)
    # nearest centroids of the query (tiny — driver-side reduce is fine,
    # but stays declarative so it also composes in a plan)
    best = (
        centroids.select(
            "centroid_id",
            F.round(cosine_similarity_col(F.col("centroid"), q), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("centroid_id"))
        .limit(n_probe)
    )
    assigned = ivf_assign(df.select(id_col, vec_col), centroids, vec_col, id_col)
    probe = df.join(assigned, id_col).join(
        F.broadcast(best.select(F.col("centroid_id").alias("cluster"))), "cluster"
    )
    scored = probe.select(
        F.col(id_col),
        F.round(cosine_similarity_col(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def _queries_with_norm(queries: DataFrame, query_id: str, query_vec: str):
    return queries.select(
        F.col(query_id),
        F.col(query_vec),
        norm(F.col(query_vec)).alias("_qnorm"),
    )


def _rank_cells_per_query(
    qn: DataFrame, centroids: DataFrame, n_probe: int, query_id: str,
    query_vec: str,
) -> DataFrame:
    """Per-query probed-cell set: (query_id, cluster) for each query's
    `n_probe` max-cosine centroids. Q x C rows, both sides tiny; the
    ONE definition of the cell-ranking grain/tiebreak (ROUND 6, then
    lowest centroid id) shared by the in-memory and saved-index batch
    probes so the twins cannot drift."""
    from pyspark.sql import Window

    cn = centroids.select(
        "centroid_id", "centroid", norm(F.col("centroid")).alias("_cnorm")
    )
    return (
        qn.crossJoin(F.broadcast(cn))
        .select(
            query_id,
            F.col("centroid_id").alias("cluster"),
            F.round(
                dot(F.col(query_vec), F.col("centroid"))
                / (F.col("_qnorm") * F.col("_cnorm")),
                6,
            ).alias("_sim"),
        )
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy(query_id).orderBy(
                    F.desc("_sim"), F.asc("cluster")
                )
            ),
        )
        .where(F.col("_r") <= n_probe)
        .select(query_id, "cluster")
    )


def _score_and_topk(
    candidates: DataFrame,
    qn: DataFrame,
    k: int,
    query_id: str,
    query_vec: str,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Score (query, candidate) rows and keep the per-query top-k —
    the shared tail of both batch probes: one broadcast of the query
    vectors, ROUND(cos,6) with the id-ascending tiebreak, windowed
    rank 1..k."""
    from pyspark.sql import Window

    scored = candidates.join(
        F.broadcast(qn.select(query_id, query_vec, "_qnorm")), query_id
    ).select(
        query_id,
        F.col(id_col),
        F.round(
            dot(F.col(vec_col), F.col(query_vec))
            / (norm(F.col(vec_col)) * F.col("_qnorm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(query_id, "rank", id_col, "cosine")
    )


def ivf_knn_batch(
    df: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """BATCHED IVF probe — the serving shape: Q query vectors answered
    in ONE plan instead of Q driver round-trips. Per query: rank
    centroids by cosine (_rank_cells_per_query — Q x C rows, both tiny
    sides, broadcast), keep the top `n_probe` cells, then score ONLY
    corpus vectors in some probed cell and take the per-query top-k
    (the per-query candidate set is |probed cells|, never the corpus).
    Returns (query_id, rank, vec_id, cosine), rank 1..k.

    Scale shape: the corpus is scanned ONCE regardless of Q — the
    assignment runs through ivf_assign_gemm with the vector CARRIED
    through (zero joins/shuffles in the assign stage; re-joining the
    assignment to the corpus by id would be the full N-row shuffle
    dedup_embedding_ivf documents avoiding). With a SAVED index the
    same composition partition-prunes instead of assigning
    (:func:`ivf_probe_saved_batch`) — this is the in-memory twin,
    matching ivf_knn exactly at Q=1 (tested)."""
    qn = _queries_with_norm(queries, query_id, query_vec)
    best = _rank_cells_per_query(qn, centroids, n_probe, query_id, query_vec)
    assigned = ivf_assign_gemm(
        df, centroids, vec_col=vec_col, id_col=id_col, carry=(vec_col,)
    )
    candidates = assigned.select(id_col, vec_col, "cluster").join(
        F.broadcast(best), "cluster"
    )
    return _score_and_topk(
        candidates, qn, k, query_id, query_vec, vec_col, id_col
    )


def save_ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize an IVF index on disk: vectors written PARTITIONED BY
    their cluster id (`<path>/cells/cluster=<id>/`) plus the centroid
    table (`<path>/centroids/`).

    This is the layout a 100 TB ANN index needs: a probe reads ONLY the
    probed cells via parquet partition pruning (one directory per cell,
    verified by PartitionFilters in the probe plan) instead of scanning
    the corpus. Assignment is ivf_assign (broadcast centroids, map-side
    argmax); the one data shuffle is the partitioned write itself."""
    assigned = ivf_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    # static overwrite: a full rebuild must clobber every prior delta
    _write_cells(df, assigned, path, id_col, "base", dynamic=False)
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


# Bump when the on-disk cells/centroids contract changes —
# ensure_ivf_index treats an older-layout artifact as absent.
_IVF_LAYOUT_VERSION = 1  # v1: cells carry the delta partition level
_IVF_MARKER = "_BOLSON_INDEX_COMPLETE"


def _ivf_fingerprint(centroids: DataFrame) -> str:
    """Input fingerprint embedded in the float-IVF completion marker —
    md5 over the collected, id-sorted centroid table (model-sized; the
    same driver materialization every probe's cell ranking performs).
    The corpus df is deliberately NOT fingerprinted, exactly as in
    :func:`_ivf_pq_fingerprint`: corpus identity is the caller's
    path-keying contract."""
    import hashlib
    import json

    cents = sorted(
        (r[0], [float(v) for v in r[1]])
        for r in centroids.select("centroid_id", "centroid").collect()
    )
    return hashlib.md5(json.dumps(cents).encode()).hexdigest()


def ensure_ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> bool:
    """Build-if-absent front door for :func:`save_ivf_index` — the
    float sibling of :func:`ensure_ivf_pq_index`, same protocol: the
    completion marker (layout version + quantizer fingerprint) is
    written only after the full assign+partitioned-write lands, any
    pre-existing marker is removed BEFORE a rebuild so a crash
    mid-build reads as absent, and a marker whose fingerprint
    mismatches the caller's centroids is treated as absent (stale
    index is rebuilt, never served). Returns True when a build ran.
    The corpus `df` is assumed stable for a given path — the scratch
    contract (path keyed by sf_dir; static testdata)."""
    import json
    import os

    _recover_generation(path)
    marker = os.path.join(path, _IVF_MARKER)
    if os.path.exists(marker):
        try:
            with open(marker) as f:
                meta = json.load(f)
            if meta.get("layout") == _IVF_LAYOUT_VERSION and meta.get(
                "fingerprint"
            ) == _ivf_fingerprint(centroids):
                return False
        except (OSError, ValueError):
            pass  # unreadable marker == absent
        os.remove(marker)  # a rebuild-in-progress is not "complete"
    save_ivf_index(df, centroids, path, vec_col=vec_col, id_col=id_col)
    with open(marker, "w") as f:
        json.dump(
            {
                "layout": _IVF_LAYOUT_VERSION,
                "fingerprint": _ivf_fingerprint(centroids),
            },
            f,
        )
    return True


def _write_cells(
    df: DataFrame,
    assigned: DataFrame,
    path: str,
    id_col: str,
    delta_id: str,
    dynamic: bool,
) -> None:
    """The one definition of the cells layout contract — shared by the
    full build and the incremental append so the two paths cannot
    desynchronize. Layout: `<path>/cells/cluster=<n>/delta=<id>/`:
    cluster stays the TOP partition level (probe pruning unchanged),
    and the second level keys every write by the delta that produced
    it, so an append retried after a partial failure dynamically
    OVERWRITES its own (cluster, delta) partitions with identical
    content instead of double-appending — the same idempotence
    protocol as the streaming ledger's (run, batch) writes."""
    w = (
        df.join(assigned.select(id_col, "cluster"), id_col)
        .withColumn("delta", F.lit(delta_id))
        .repartition(F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster", "delta")
        # pin BOTH modes explicitly: a session-level
        # spark.sql.sources.partitionOverwriteMode=dynamic must not turn
        # the full rebuild into a partial one that leaves stale deltas
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
    )
    w.parquet(f"{path}/cells")


def ivf_probe_saved(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k probe against a saved IVF index: rank centroids by cosine
    to the query (tiny table, driver-side), then scan ONLY the best
    `n_probe` cell partitions (partition-pruned) and TakeOrdered(k).
    `n_probe` is the recall/latency knob of every IVF deployment."""
    _recover_generation(path)
    q = _query_vector_lit(query_vec)
    cents = spark.read.parquet(f"{path}/centroids")
    best = [
        r.centroid_id
        for r in cents.select(
            "centroid_id",
            F.round(cosine_similarity_col(F.col("centroid"), q), 6).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.asc("centroid_id"))
        .limit(n_probe)
        .collect()
    ]
    cells = spark.read.parquet(f"{path}/cells").where(
        F.col("cluster").isin(best)
    )
    scored = cells.select(
        F.col(id_col),
        F.round(cosine_similarity_col(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def ivf_probe_saved_batch(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """BATCHED probe against a saved IVF index — :func:`ivf_knn_batch`
    pointed at the on-disk layout: the per-query cell ranking runs on
    the tiny centroid table (Q x C rows, windowed top-n_probe), the
    UNION of probed cells becomes ONE `cluster IN (...)` partition
    filter (the scan reads only those directories — plan-asserted in
    tests), and a broadcast (query_id, cluster) pair table fans each
    scanned row out to exactly the queries that probed its cell before
    the per-query windowed top-k (_score_and_topk — shared with the
    in-memory twin so the two cannot drift). Q queries = one pruned
    scan, not Q. Returns (query_id, rank, vec_id, cosine); an empty
    query batch returns an empty result, not an error."""
    _recover_generation(path)
    cents = spark.read.parquet(f"{path}/centroids")
    qn = _queries_with_norm(queries, query_id, query_vec)
    best = _rank_cells_per_query(qn, cents, n_probe, query_id, query_vec)
    # the probed-cell set is bounded by Q * n_probe — a driver list,
    # frozen into the partition filter so pruning is static
    pairs = best.collect()
    probed = sorted({r.cluster for r in pairs})
    qid_t = queries.schema[query_id].dataType
    pair_df = spark.createDataFrame(
        [(r[query_id], r.cluster) for r in pairs],
        T.StructType(
            [
                T.StructField(query_id, qid_t, False),
                T.StructField("cluster", cents.schema["centroid_id"].dataType, False),
            ]
        ),
    )
    cells = spark.read.parquet(f"{path}/cells").where(
        F.col("cluster").isin(probed)
    )
    candidates = cells.select(id_col, vec_col, "cluster").join(
        F.broadcast(pair_df), "cluster"
    )
    return _score_and_topk(
        candidates, qn, k, query_id, query_vec, vec_col, id_col
    )


def ivf_append_index(
    spark,
    path: str,
    new_df: DataFrame,
    delta_id: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """INCREMENTAL index maintenance: assign a delta of new vectors to
    the saved index's OWN centroids and append them to the cell
    partition layout — the crawl-re-ingest shape for the ANN index
    (the vector analog of the MinHash band-index append in
    streaming/ingest.py). Cost is O(delta): one broadcast-centroid
    argmax over the new vectors and a partitioned write; the existing
    corpus is never read or rewritten, and every later probe prunes to
    the probed cells exactly as before (cluster stays the top
    partition level).

    `delta_id` must uniquely name this delta (crawl id, batch id) and
    must differ from every previously appended delta: the write lands
    under `cluster=<n>/delta=<delta_id>/` with dynamic partition
    overwrite, so RETRYING a failed/partial append with the same id is
    idempotent (it rewrites its own partitions, never duplicates),
    while reusing an OLD id would silently replace that delta's
    vectors — the same contract as the ledger's (run, batch) keying.

    Centroid DRIFT is deliberately not handled here — production IVF
    deployments freeze the coarse quantizer between periodic retrains,
    because re-assigning the corpus is the O(N) operation this path
    exists to avoid."""
    centroids = spark.read.parquet(f"{path}/centroids")
    assigned = ivf_assign(
        new_df, centroids, vec_col=vec_col, id_col=id_col
    )
    _write_cells(new_df, assigned, path, id_col, delta_id, dynamic=True)


# Retrain rule of thumb: once appended deltas exceed ~25% of the index,
# the frozen coarse quantizer was trained on <80% of what it now serves
# — cell balance and probe recall start drifting, and the O(N) retrain
# amortizes over the growth that forced it. Callers with measured
# recall curves should tune this (and/or pass recall_floor).
DELTA_REBUILD_FRACTION = 0.25


def ivf_index_stats(spark, path: str) -> dict:
    """Bounded-size health stats for a saved IVF index: total/base/
    delta row counts and the delta fraction, from ONE metadata-cheap
    aggregation over the cells' partition columns (the scan reads no
    vector data — `delta` and `cluster` are directory keys)."""
    _recover_generation(path)
    cells = spark.read.parquet(f"{path}/cells")
    agg = cells.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("delta") != "base").cast("long")).alias("delta_rows"),
        F.countDistinct("cluster").alias("n_cells"),
    ).first()
    total = agg["total"] or 0
    delta_rows = int(agg["delta_rows"] or 0)
    return {
        "total_rows": total,
        "base_rows": total - delta_rows,
        "delta_rows": delta_rows,
        "delta_fraction": (delta_rows / total) if total else 0.0,
        "n_cells": agg["n_cells"],
    }


def measure_probe_recall(
    spark,
    path: str,
    k: int = 10,
    n_probe: int = 1,
    n_queries: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """Measured recall@k of the saved index's pruned probe against
    brute-force over the SAME contents, averaged over the n_queries
    lowest-id vectors (deterministic sample). An offline maintenance
    check: n_queries full scans, bounded by the sample size — the
    recall-drift signal ann_recall computes for the registry fixture,
    pointed at a live index."""
    cells = spark.read.parquet(f"{path}/cells")
    qs = [
        list(r[vec_col])
        for r in cells.orderBy(id_col).limit(n_queries).collect()
    ]
    if not qs:
        return 1.0
    hits = denom = 0
    for qv in qs:
        exact = {
            r[id_col]
            for r in knn_bruteforce(
                cells, [float(x) for x in qv], k=k,
                vec_col=vec_col, id_col=id_col,
            ).collect()
        }
        got = {
            r[id_col]
            for r in ivf_probe_saved(
                spark, path, [float(x) for x in qv], k=k, n_probe=n_probe,
                vec_col=vec_col, id_col=id_col,
            ).collect()
        }
        hits += len(exact & got)
        # denominator = achievable hits (|exact| = min(k, index size)),
        # not q*k: an index smaller than k must still be able to reach
        # recall 1.0, or a recall_floor policy would fire (and rebuild,
        # uselessly) on every cycle forever
        denom += len(exact)
    return hits / denom if denom else 1.0


def rebuild_ivf_index(
    spark,
    path: str,
    n_cells: int | None = None,
    target_cell: int = 512,
    refine_iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Full retrain: re-seed centroids from the index's CURRENT
    contents (n_cells lowest ids, or N // target_cell of them — the
    same scalable-cells rule as dedup_embedding_ivf), optionally run
    ``refine_iters`` rounds of Lloyd's k-means over the seeds
    (:func:`kmeans_centroid_table` — data-adapted cells instead of
    arbitrary seed vectors), rewrite every vector into the new cell
    layout, and swap generations.

    The new index is written BESIDE the old one (`<path>__rebuild`)
    then swapped in — never an in-place overwrite of a directory the
    rebuild is still reading (self-overwrite is undefined in Spark).
    The swap here is two LOCAL-filesystem renames (os.rename — it does
    NOT speak hdfs:// or s3a:// URIs); on a distributed filesystem or
    object store, deployments keep the write-new-generation step and
    replace the swap with their own pointer flip (HDFS rename /
    catalog update). A crash BETWEEN the two renames is recovered
    automatically: the old generation is restored from `<path>__old`,
    which is deleted only after the new generation is in place.
    Single-writer assumption as everywhere in this index's protocol;
    concurrent READERS of `path` see a brief not-found window during
    the swap — the pointer-flip variant is how production removes it."""
    import os
    import shutil

    src = spark.read.parquet(f"{path}/cells").select(id_col, vec_col)
    if n_cells is None:
        n_cells = max(1, src.count() // target_cell)
    seeds = (
        src.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid"),
        )
    )
    if refine_iters:
        seeds = kmeans_centroid_table(
            src, seeds, iters=refine_iters, vec_col=vec_col, id_col=id_col
        )
    tmp = f"{path}__rebuild"
    shutil.rmtree(tmp, ignore_errors=True)
    save_ivf_index(src, seeds, tmp, vec_col=vec_col, id_col=id_col)
    _swap_generations(path, tmp)


def _swap_generations(path: str, tmp: str) -> None:
    """Atomic-enough generation swap shared by both saved-index
    rebuilds: the new generation was written BESIDE the live one
    (never an in-place overwrite of a directory the rebuild is still
    reading); swap = two LOCAL-filesystem renames (os.rename does NOT
    speak hdfs:// or s3a:// — distributed deployments keep the
    write-new-generation step and replace this with their pointer
    flip). An EXCEPTION between the renames is rolled back here; a
    process CRASH between them (path absent, `<path>__old` present)
    is recovered by :func:`_recover_generation`, which every saved-
    index front door (probe/stats/ensure, both flavors) runs before
    reading — `<path>__old` is deleted only after the new generation
    is in place, so one of the two is always a complete index."""
    import os
    import shutil

    old = f"{path}__old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(old, path)  # restore the prior generation
        raise
    shutil.rmtree(old)


def _recover_generation(path: str) -> bool:
    """Crash recovery for :func:`_swap_generations` (r9 ADVICE): a
    process kill between the two renames leaves `path` absent and the
    prior generation parked at `<path>__old`. Restore it by renaming
    back; returns True when a recovery ran. Called by every saved-
    index read front door so the window needs no manual intervention.
    Local-filesystem only, like the swap itself — distributed
    deployments replace the rename pair with a pointer flip, which
    has no such window."""
    import os

    old = f"{path}__old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def maybe_rebuild_ivf(
    spark,
    path: str,
    delta_fraction_threshold: float = DELTA_REBUILD_FRACTION,
    recall_floor: float | None = None,
    k: int = 10,
    n_probe: int = 1,
    n_queries: int = 8,
    execute: bool = False,
    rebuild_n_cells: int | None = None,
    rebuild_target_cell: int = 512,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """The index lifecycle POLICY: decides — and with ``execute=True``
    performs — the retrain that `ivf_append_index` deliberately defers.

    Appends keep the coarse quantizer frozen (re-assigning the corpus
    is the O(N) cost appends exist to avoid), so two drift signals
    accumulate: the DELTA FRACTION (rows assigned to centroids that
    never saw them at train time) and, optionally, MEASURED PROBE
    RECALL against brute-force on a bounded query sample. Rebuild
    fires when delta_fraction > delta_fraction_threshold (default
    DELTA_REBUILD_FRACTION = 0.25, rationale at its definition) or
    measured recall < recall_floor. Returns the full decision record
    so schedulers can log it; with execute=True a fired decision runs
    :func:`rebuild_ivf_index` (generation swap, deltas folded into the
    new base — idempotent to re-run: after the rebuild the delta
    fraction is 0)."""
    stats = ivf_index_stats(spark, path)
    reasons = []
    if stats["delta_fraction"] > delta_fraction_threshold:
        reasons.append("delta_fraction")
    recall = None
    if recall_floor is not None:
        recall = measure_probe_recall(
            spark, path, k=k, n_probe=n_probe, n_queries=n_queries,
            vec_col=vec_col, id_col=id_col,
        )
        if recall < recall_floor:
            reasons.append("recall_drift")
    decision = {
        **stats,
        "threshold": delta_fraction_threshold,
        "recall": recall,
        "recall_floor": recall_floor,
        "rebuild": bool(reasons),
        "reasons": reasons,
        "executed": False,
    }
    if decision["rebuild"] and execute:
        rebuild_ivf_index(
            spark,
            path,
            n_cells=rebuild_n_cells,
            target_cell=rebuild_target_cell,
            vec_col=vec_col,
            id_col=id_col,
        )
        decision["executed"] = True
    return decision


# ---------------------------------------------------------------------------
# Embedding quantization: int8 scalar quantization + product quantization
# ---------------------------------------------------------------------------


def sq_encode(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Int8 scalar quantization: per-vector scale = max(|x|)/127,
    code_i = floor(x_i/scale + 0.5). 4x memory reduction for a 100 TB
    ANN index at <1% recall loss in practice; one narrow codegen map
    (no UDF, no shuffle). floor(x+0.5) rather than round() so halfway
    cases agree bit-for-bit with the DuckDB oracle."""
    scale = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    ) / F.lit(127.0)
    return df.select(
        F.col(id_col),
        F.round(scale, 6).alias("sq_scale"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("sq_codes"),
    )


def _sub_l2sq(sub: Column, centroid: list[float]) -> Column:
    """Squared L2 between a subvector column and a literal centroid,
    accumulated in float64 in strict index order (oracle parity)."""
    lit = double_array_lit([float(v) for v in centroid])
    return F.aggregate(
        F.zip_with(
            sub,
            lit,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantize vectors: split into m subspaces, store the id
    of the nearest codebook centroid per subspace -> `pq_codes`
    array<bigint> of length m (m*log2(k) bits per vector instead of
    d*32). The codebooks (m x k x d_sub) are broadcast as literals;
    encoding is a pure whole-stage-codegen expression — argmin via
    array_position(dists, array_min(dists)), which takes the FIRST
    (lowest-code) occurrence on ties, matching the oracle's
    `ORDER BY d2, c` tiebreak. No shuffle, no UDF."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    # The codebook enters the plan as ONE nested array literal and the
    # m x k argmin runs inside higher-order lambdas over it. The naive
    # alternative — unrolling m*k*d_sub squared-diff terms into the
    # expression tree (with the distance array duplicated by the
    # argmin) — costs seconds of DRIVER-side Catalyst analysis alone
    # (~8 s at m=8,k=16,d=8) before a single row moves; the lambda
    # form analyzes in milliseconds and runs the identical strict
    # left-to-right float64 accumulation (oracle parity preserved).
    # one SQL-parse call for the whole m x k x d_sub literal — the
    # element-wise build cost ~1 s of driver-side py4j round-trips per
    # pq_encode call (measured; values bit-identical — see
    # double_array_lit)
    cb_lit = double_array_lit(
        [[[float(v) for v in cent] for cent in book] for book in codebooks]
    )

    def _code(j: Column) -> Column:
        sub = F.slice(F.col(vec_col), j * d_sub + 1, d_sub)
        book = F.element_at(cb_lit, (j + 1).cast("int"))
        dists = F.transform(
            book,
            lambda cent: F.aggregate(
                F.zip_with(
                    sub,
                    cent,
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast(
            "bigint"
        )

    codes = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), _code)
    return df.select(F.col(id_col), codes.alias("pq_codes"))


def _adc_lut(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """The m x k ADC lookup table of subspace squared distances from
    one query — computed driver-side in STRICT left-to-right float64
    order (oracle parity). The ONE definition shared by pq_adc_knn and
    the batched saved-index probe so the distance rule cannot drift."""
    d_sub = len(codebooks[0][0])
    lut = []
    for j, book in enumerate(codebooks):
        qs = [float(v) for v in query_vec[j * d_sub:(j + 1) * d_sub]]
        row = []
        for cent in book:
            acc = 0.0
            for x, y in zip(qs, cent):
                acc += (x - float(y)) * (x - float(y))
            row.append(acc)
        lut.append(row)
    return lut


def pq_adc_knn(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate kNN over PQ codes by asymmetric distance
    computation (the FAISS ADC scan): build the m x k lookup table of
    subspace distances ONCE from the query (driver-side, tiny —
    computed in strict left-to-right float64 order for oracle parity),
    broadcast it as a literal, and score each vector with m array
    lookups + a sum — a narrow codegen map over the code table, then
    TakeOrdered top-k. The full-precision vectors are never touched at
    search time."""
    m = len(codebooks)
    lut = _adc_lut(codebooks, query_vec)
    lut_lit = double_array_lit([[float(v) for v in row] for row in lut])
    adc = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.col("pq_codes"),
            lambda j, c: F.element_at(
                F.element_at(lut_lit, (j + 1).cast("int")),
                (c + 1).cast("int"),
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = codes_df.select(
        F.col(id_col), F.round(adc, 6).alias("adc_dist")
    )
    return scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(k)


def save_ivf_pq_index(
    df: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the full production ANN artifact on disk — the
    IVFADC layout (FAISS IVF-PQ): PQ CODES partitioned by coarse cell
    (`<path>/codes/cluster=<id>/`), the centroid table, and the
    codebooks. This is what a 100 TB ANN deployment actually serves
    from: the probe reads ONLY the probed cells' code partitions —
    m bytes-ish per vector instead of d floats, so the scanned bytes
    shrink by BOTH the pruning factor (n_probe/n_cells) and the
    PQ compression factor; the full-precision vectors never leave the
    build side. Static overwrite like save_ivf_index: a rebuild
    clobbers every prior partition."""
    import os

    marker = os.path.join(path, _IVF_PQ_MARKER)
    if os.path.exists(marker):
        os.remove(marker)  # a rebuild-in-progress is not "complete"
    assigned = ivf_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    codes = pq_encode(df, codebooks, vec_col=vec_col, id_col=id_col)
    _write_codes(codes, assigned, path, id_col, "base", dynamic=False)
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    rows = [
        (j, c, [float(v) for v in cent])
        for j, book in enumerate(codebooks)
        for c, cent in enumerate(book)
    ]
    df.sparkSession.createDataFrame(
        rows, "j int, code int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    import json

    with open(marker, "w") as f:
        json.dump(
            {
                "layout": _IVF_PQ_LAYOUT_VERSION,
                "fingerprint": _ivf_pq_fingerprint(centroids, codebooks),
            },
            f,
        )


# Bump when the on-disk codes/centroids/codebooks contract changes —
# ensure_ivf_pq_index treats an older-layout artifact as absent.
_IVF_PQ_LAYOUT_VERSION = 2  # v2: codes carry the delta partition level
_IVF_PQ_MARKER = "_BOLSON_INDEX_COMPLETE"


def _ivf_pq_fingerprint(
    centroids: DataFrame, codebooks: list[list[list[float]]]
) -> str:
    """Input fingerprint embedded in the completion marker (r9
    ADVICE #4): md5 over the exact quantizer artifacts — the codebooks
    (m x k x d_sub floats, already driver-side) and the collected
    centroid table (model-sized, id-sorted, the same class of driver
    materialization as the codebooks themselves).
    :func:`ensure_ivf_pq_index` treats a marker whose fingerprint
    mismatches the caller's inputs as ABSENT, so reusing a scratch
    path with changed quantizers rebuilds instead of silently serving
    a stale index. The CORPUS df is deliberately NOT fingerprinted
    (hashing 100 TB to decide a cache hit defeats the cache) — corpus
    identity stays the caller's path-keying contract, now enforced for
    the quantizer half where staleness silently corrupts results."""
    import hashlib
    import json

    cents = sorted(
        (r[0], [float(v) for v in r[1]])
        for r in centroids.select("centroid_id", "centroid").collect()
    )
    payload = json.dumps(
        [
            cents,
            [[[float(v) for v in c] for c in book] for book in codebooks],
        ]
    )
    return hashlib.md5(payload.encode()).hexdigest()


def _write_codes(
    codes: DataFrame,
    assigned: DataFrame,
    path: str,
    id_col: str,
    delta_id: str,
    dynamic: bool,
) -> None:
    """The one definition of the PQ-codes layout — shared by the full
    build and the incremental append (the same single-contract
    discipline as `_write_cells` for the float IVF index). Layout:
    `<path>/codes/cluster=<n>/delta=<id>/`: cluster stays the TOP
    partition level so probe pruning is unchanged, and keying each
    write by its delta makes a retried append idempotent (dynamic
    overwrite rewrites its own partitions) while the full build's
    static overwrite clobbers every prior delta."""
    (
        codes.join(assigned.select(id_col, "cluster"), id_col)
        .withColumn("delta", F.lit(delta_id))
        .repartition(F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster", "delta")
        .option(
            "partitionOverwriteMode", "dynamic" if dynamic else "static"
        )
        .parquet(f"{path}/codes")
    )


def ensure_ivf_pq_index(
    df: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> bool:
    """Build-if-absent front door for :func:`save_ivf_pq_index`: skip
    the (expensive) assign+encode+write when `path` already holds a
    COMPLETE index at the current layout version — the marker file is
    written only after all three datasets land, so a partial build is
    rebuilt, never served. Callers that share one scratch path (the
    two saved-PQ registry queries build the identical artifact from
    static inputs) pay for ONE build per session instead of one per
    query. Returns True when a build ran. The marker carries an md5
    fingerprint of the QUANTIZER inputs (centroids + codebooks, see
    :func:`_ivf_pq_fingerprint`): a path reused with changed
    quantizers is treated as absent and rebuilt, never silently
    served stale. The corpus `df` is assumed stable for a given path
    — that is the scratch contract (the path is keyed by sf_dir, and
    the testdata is static); a caller with a mutable corpus must key
    the path by a corpus fingerprint or call save_ivf_pq_index
    directly."""
    import json
    import os

    _recover_generation(path)
    marker = os.path.join(path, _IVF_PQ_MARKER)
    if os.path.exists(marker):
        try:
            with open(marker) as f:
                meta = json.load(f)
            if meta.get("layout") == _IVF_PQ_LAYOUT_VERSION and meta.get(
                "fingerprint"
            ) == _ivf_pq_fingerprint(centroids, codebooks):
                return False
        except (OSError, ValueError):
            pass  # unreadable marker == absent
    save_ivf_pq_index(
        df, centroids, codebooks, path, vec_col=vec_col, id_col=id_col
    )
    return True


def load_pq_codebooks(spark, path: str) -> list[list[list[float]]]:
    """Reload the codebooks a saved IVF-PQ index was built with —
    model-sized (m x k x d_sub floats), collected to the driver like
    every centroid/codebook in this module."""
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r.j for r in rows) + 1
    k = max(r.code for r in rows) + 1
    books: list[list[list[float] | None]] = [[None] * k for _ in range(m)]
    for r in rows:
        books[r.j][r.code] = [float(v) for v in r.centroid]
    if any(c is None for book in books for c in book):
        raise ValueError(
            f"load_pq_codebooks: {path}/codebooks is not a dense "
            f"{m}x{k} codebook table — partial write or wrong path"
        )
    return books  # type: ignore[return-value]


def ivf_pq_probe_saved(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k against a SAVED IVF-PQ index: rank centroids by
    cosine to the query (tiny table, driver-side), partition-prune to
    the best `n_probe` code cells, reload the codebooks, and run the
    broadcast-LUT ADC scan (pq_adc_knn — shared with the in-memory
    twin so the distance/tiebreak rules cannot drift). Returns
    (id_col, adc_dist) ascending."""
    _recover_generation(path)
    q = _query_vector_lit(query_vec)
    cents = spark.read.parquet(f"{path}/centroids")
    best = [
        r.centroid_id
        for r in cents.select(
            "centroid_id",
            F.round(
                cosine_similarity_col(F.col("centroid"), q), 6
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("centroid_id"))
        .limit(n_probe)
        .collect()
    ]
    codes = spark.read.parquet(f"{path}/codes").where(
        F.col("cluster").isin(best)
    )
    books = load_pq_codebooks(spark, path)
    return pq_adc_knn(
        codes.select(id_col, "pq_codes"), books, query_vec, k=k,
        id_col=id_col,
    )


def ivf_pq_probe_saved_batch(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 1,
    id_col: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """BATCHED ADC probe against a saved IVF-PQ index —
    :func:`ivf_pq_probe_saved` at serving shape: Q queries answered by
    ONE partition-pruned code scan instead of Q. Per query the cells
    rank on the tiny centroid table (_rank_cells_per_query — the
    shared grain/tiebreak), the UNION of probed cells becomes one
    ``cluster IN (...)`` partition filter, and a broadcast
    (query_id, cluster, lut) pair table fans each scanned code row out
    to exactly the queries that probed its cell — each query's m x k
    ADC lookup table rides the pair row (driver-built via _adc_lut,
    model-bounded: Q x m x k doubles, the same class as the codebooks
    themselves), so the distance is m array lookups + a fold per
    (row, query) pair with zero extra joins. Per-query windowed top-k
    by (adc asc, id asc). Returns (query_id, rank, vec_id, adc_dist);
    an empty query batch returns an empty result, not an error."""
    _recover_generation(path)
    cents = spark.read.parquet(f"{path}/centroids")
    books = load_pq_codebooks(spark, path)
    m = len(books)
    qn = _queries_with_norm(queries, query_id, query_vec)
    best = _rank_cells_per_query(qn, cents, n_probe, query_id, query_vec)
    # bounded: Q x n_probe pair rows; the probed-cell set freezes into
    # a static partition filter like the single-query saved probe
    pairs = best.collect()
    probed = sorted({r.cluster for r in pairs})
    luts = {
        r[query_id]: _adc_lut(books, [float(v) for v in r[query_vec]])
        for r in queries.select(query_id, query_vec).collect()
    }
    qid_t = queries.schema[query_id].dataType
    pair_df = spark.createDataFrame(
        [(r[query_id], int(r.cluster), luts[r[query_id]]) for r in pairs],
        T.StructType(
            [
                T.StructField(query_id, qid_t),
                T.StructField("cluster", T.LongType()),
                T.StructField(
                    "_lut", T.ArrayType(T.ArrayType(T.DoubleType()))
                ),
            ]
        ),
    )
    codes = spark.read.parquet(f"{path}/codes").where(
        F.col("cluster").isin([int(c) for c in probed])
        if probed
        else F.lit(False)
    )
    fanned = codes.join(F.broadcast(pair_df), "cluster")
    adc = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.col("pq_codes"),
            lambda j, c: F.element_at(
                F.element_at(F.col("_lut"), (j + 1).cast("int")),
                (c + 1).cast("int"),
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = fanned.select(
        query_id, F.col(id_col), F.round(adc, 6).alias("adc_dist")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id).orderBy(
        F.asc("adc_dist"), F.asc(id_col)
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        )
        .where(F.col("rank") <= k)
        .select(query_id, "rank", id_col, "adc_dist")
    )


def ivf_pq_append_index(
    spark,
    path: str,
    new_df: DataFrame,
    delta_id: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """INCREMENTAL maintenance for the saved IVF-PQ index — the
    codes-layout sibling of :func:`ivf_append_index`: assign the delta
    to the index's OWN (frozen) centroids, PQ-encode it with the
    index's OWN (frozen) codebooks, and append under
    `codes/cluster=<n>/delta=<delta_id>/`. Because both the coarse
    quantizer and the codebooks are the saved artifacts, an appended
    vector produces BIT-IDENTICAL codes to a full rebuild over the
    grown corpus with the same artifacts — probe results cannot
    differ (pinned by test_ivf_pq_append_equals_rebuild). Cost is
    O(delta): broadcast-centroid argmax + per-subspace encode over the
    new vectors and one partitioned write; the existing codes are
    never read or rewritten. `delta_id` keying/idempotence contract is
    `ivf_append_index`'s: retrying a failed append with the same id
    rewrites its own (cluster, delta) partitions; reusing an old id
    replaces that delta. Codebook/centroid DRIFT is deliberately
    deferred to the rebuild policy, as in every production IVF-PQ
    deployment (re-encoding the corpus is the O(N) cost appends
    avoid)."""
    centroids = spark.read.parquet(f"{path}/centroids")
    books = load_pq_codebooks(spark, path)
    assigned = ivf_assign(
        new_df, centroids, vec_col=vec_col, id_col=id_col
    )
    codes = pq_encode(new_df, books, vec_col=vec_col, id_col=id_col)
    _write_codes(codes, assigned, path, id_col, delta_id, dynamic=True)


def ivf_pq_index_stats(spark, path: str) -> dict:
    """Bounded-size health stats for a saved IVF-PQ index — the same
    metadata-cheap shape as :func:`ivf_index_stats`: `delta` and
    `cluster` are directory keys, so the aggregation reads no code
    data."""
    _recover_generation(path)
    codes = spark.read.parquet(f"{path}/codes")
    agg = codes.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("delta") != "base").cast("long")).alias("delta_rows"),
        F.countDistinct("cluster").alias("n_cells"),
    ).first()
    total = agg["total"] or 0
    delta_rows = int(agg["delta_rows"] or 0)
    return {
        "total_rows": total,
        "base_rows": total - delta_rows,
        "delta_rows": delta_rows,
        "delta_fraction": (delta_rows / total) if total else 0.0,
        "n_cells": agg["n_cells"],
    }


def rebuild_ivf_pq_index(
    spark,
    path: str,
    src_df: DataFrame,
    n_cells: int | None = None,
    target_cell: int = 512,
    m: int = 8,
    k: int = 16,
    train_iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Full retrain + generation swap for the IVF-PQ index. PQ codes
    are LOSSY, so unlike :func:`rebuild_ivf_index` the rebuild cannot
    re-derive its input from the index — it takes the SOURCE corpus
    (`src_df`, the authoritative full-precision store every IVF-PQ
    deployment keeps beside the serving artifact) and re-trains both
    quantizers from it: coarse centroids seeded from the n_cells
    lowest ids (N // target_cell by default — the scalable-cells
    rule), codebooks from :func:`pq_train` when `train_iters` > 0
    else the deterministic first-k-subvector init. The new index is
    written BESIDE the live one and swapped in with the shared
    `_swap_generations` crash-recovery protocol; after the swap the
    delta fraction is 0 (idempotent to re-run)."""
    import shutil

    if n_cells is None:
        n_cells = max(1, src_df.count() // target_cell)
    seeds = (
        src_df.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid"),
        )
    )
    books = pq_train(
        src_df, m=m, k=k, iters=train_iters, vec_col=vec_col,
        id_col=id_col,
    )
    tmp = f"{path}__rebuild"
    shutil.rmtree(tmp, ignore_errors=True)
    save_ivf_pq_index(
        src_df, seeds, books, tmp, vec_col=vec_col, id_col=id_col
    )
    _swap_generations(path, tmp)


def knn_bruteforce_l2(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by SQUARED L2 to `query_vec` (ascending),
    deterministic tiebreak on id — the full-precision ground truth in
    the metric the ADC scan approximates (:func:`pq_adc_knn` sums
    subspace squared distances, i.e. squared L2 over the coded
    vector). The cosine sibling is :func:`knn_bruteforce`; PQ recall
    must be measured in the PQ metric or codebook drift and metric
    mismatch would be conflated. Strict left-to-right float64 fold,
    whole-stage codegen, TakeOrdered top-k."""
    q = _query_vector_lit(query_vec)
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            q,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = df.select(F.col(id_col), F.round(d2, 6).alias("l2sq"))
    return scored.orderBy(F.asc("l2sq"), F.asc(id_col)).limit(k)


def measure_pq_probe_recall(
    spark,
    path: str,
    src_df: DataFrame,
    k: int = 10,
    n_probe: int = 1,
    n_queries: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """Measured recall@k of the saved IVF-PQ index's ADC probe
    against exact squared-L2 brute force over the FULL-PRECISION
    corpus (`src_df` — the authoritative store a PQ deployment keeps
    beside the lossy serving artifact; the index itself cannot supply
    ground truth, its codes ARE the approximation being measured).
    Averaged over the n_queries lowest-id corpus vectors
    (deterministic sample, same protocol as
    :func:`measure_probe_recall`). This is THE drift signal PQ needs:
    appended vectors are encoded by codebooks that never saw them at
    train time, so code error — and with it probe recall — decays as
    the corpus drifts even while every cell stays well-populated.
    Bounded: n_queries full scans of src_df + n_queries pruned probes.
    Denominator is achievable hits (|exact| = min(k, corpus size)),
    so an index smaller than k can still reach recall 1.0."""
    _recover_generation(path)
    qs = [
        [float(x) for x in r[vec_col]]
        for r in src_df.orderBy(id_col).limit(n_queries).collect()
    ]
    if not qs:
        return 1.0
    hits = denom = 0
    for qv in qs:
        exact = {
            r[id_col]
            for r in knn_bruteforce_l2(
                src_df, qv, k=k, vec_col=vec_col, id_col=id_col
            ).collect()
        }
        got = {
            r[id_col]
            for r in ivf_pq_probe_saved(
                spark, path, qv, k=k, n_probe=n_probe, id_col=id_col
            ).collect()
        }
        hits += len(exact & got)
        denom += len(exact)
    return hits / denom if denom else 1.0


def maybe_rebuild_ivf_pq(
    spark,
    path: str,
    src_df: DataFrame,
    delta_fraction_threshold: float = DELTA_REBUILD_FRACTION,
    recall_floor: float | None = None,
    recall_k: int = 10,
    n_probe: int = 1,
    n_queries: int = 8,
    execute: bool = False,
    rebuild_n_cells: int | None = None,
    rebuild_target_cell: int = 512,
    m: int = 8,
    k: int = 16,
    train_iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Lifecycle POLICY for the saved IVF-PQ index — the codes-layout
    sibling of :func:`maybe_rebuild_ivf`, with BOTH of its drift legs
    (r9 VERDICT #3): appends freeze BOTH quantizers, so two signals
    accumulate — the DELTA FRACTION (rows encoded by codebooks that
    never saw them at train time; fires past
    `delta_fraction_threshold`, rationale at DELTA_REBUILD_FRACTION)
    and, with `recall_floor` set, MEASURED ADC-probe recall against
    exact L2 over the full-precision corpus
    (:func:`measure_pq_probe_recall`). The recall leg matters MORE
    here than on the float sibling: PQ codes are lossy, so a drifted
    delta degrades answer quality even when the delta fraction is
    still small — the recall probe catches what the row-count ratio
    cannot. Returns the decision record; with execute=True a fired
    decision runs :func:`rebuild_ivf_pq_index` against `src_df`
    (retraining both quantizers on the grown corpus restores code
    fidelity; after it the delta fraction is 0)."""
    stats = ivf_pq_index_stats(spark, path)
    reasons = []
    if stats["delta_fraction"] > delta_fraction_threshold:
        reasons.append("delta_fraction")
    recall = None
    if recall_floor is not None:
        # recall_k, not k: `k` is the PQ codebook size here (the
        # rebuild_ivf_pq_index contract), unlike the float sibling
        recall = measure_pq_probe_recall(
            spark, path, src_df, k=recall_k, n_probe=n_probe,
            n_queries=n_queries, vec_col=vec_col, id_col=id_col,
        )
        if recall < recall_floor:
            reasons.append("recall_drift")
    decision = {
        **stats,
        "threshold": delta_fraction_threshold,
        "recall": recall,
        "recall_floor": recall_floor,
        "rebuild": bool(reasons),
        "reasons": reasons,
        "executed": False,
    }
    if decision["rebuild"] and execute:
        rebuild_ivf_pq_index(
            spark, path, src_df, n_cells=rebuild_n_cells,
            target_cell=rebuild_target_cell, m=m, k=k,
            train_iters=train_iters, vec_col=vec_col, id_col=id_col,
        )
        decision["executed"] = True
    return decision


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train PQ codebooks with per-subspace Lloyd's iterations.

    Deterministic init (subvectors of the first k vectors by id), then
    per round: broadcast-literal argmin assignment (map-side, codegen)
    -> per-(subspace, code, dim) mean via one map-side-combined
    aggregation -> collect m*k*d_sub scalars (tiny) to rebuild the
    books. Same distributed-Lloyd's shape as `kmeans_refine`; all the
    data-sized work stays on executors."""
    d = len(df.select(vec_col).first()[0])
    d_sub = d // m
    init = (
        df.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    books = [
        [
            [float(v) for v in r[0][j * d_sub:(j + 1) * d_sub]]
            for r in init
        ]
        for j in range(m)
    ]
    subs = df.select(
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" j -> slice({vec_col}, j * {d_sub} + 1, {d_sub}))"
            )
        ).alias("j", "sv")
    )
    for _ in range(iters):
        code_case = None
        # One argmin expression per subspace, dispatched by j.
        for j, book in enumerate(books):
            dists = F.array(*[_sub_l2sq(F.col("sv"), c) for c in book])
            cexpr = F.array_position(dists, F.array_min(dists)) - 1
            code_case = (
                F.when(F.col("j") == j, cexpr)
                if code_case is None
                else code_case.when(F.col("j") == j, cexpr)
            )
        assigned = subs.select("j", "sv", code_case.alias("code"))
        stats = (
            assigned.select(
                "j", "code", F.posexplode(F.col("sv")).alias("dim", "val")
            )
            .groupBy("j", "code", "dim")
            .agg(F.avg(F.col("val").cast("double")).alias("mean"))
            .collect()
        )
        new_books = [
            [list(books[j][c]) for c in range(k)] for j in range(m)
        ]
        for r in stats:
            new_books[r.j][r.code][r.dim] = float(r.mean)
        books = new_books
    return books


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_eval: int = 100_000,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    companion of the n-gram rule (functions/corpus.py::decontaminate):
    flag corpus items whose embedding is within cosine >= `threshold`
    of ANY evaluation-set embedding (paraphrased benchmark leakage that
    shares no 8-gram).

    Scale shape: the eval set is SMALL by construction (benchmarks),
    bounded by `max_eval` with a hard error beyond it; its matrix is
    closed over into a ``mapInPandas`` GEMM, so the corpus is scanned
    ONCE with one BLAS call per Arrow batch — linear in the corpus,
    zero shuffle, no |corpus| x |eval| join materialization. (An IVF
    probe is the refinement once eval outgrows a broadcast — same
    note as the ANN index.)

    Determinism: cosines accumulate in float64 and round to 6
    decimals; best_eval_id ties break to the LOWEST eval id (eval rows
    sorted by id, argmax takes the first maximum).

    Returns (vec_id, best_eval_id, max_cos, contaminated).
    """
    import numpy as np
    import pandas as pd

    rows = eval_set.select(id_col, vec_col).orderBy(id_col).collect()
    if len(rows) > max_eval:
        raise ValueError(
            f"semantic_decontaminate: eval set has {len(rows)} vectors, "
            f"above the max_eval={max_eval} broadcast bound; use an IVF "
            "probe for oversized eval sets"
        )
    if not rows:
        raise ValueError("semantic_decontaminate: empty eval set")
    eval_ids = np.array([r[0] for r in rows], dtype=np.int64)
    E = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    e_norms = np.sqrt((E * E).sum(axis=1))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.sqrt((m * m).sum(axis=1))
            sims = np.round(
                (m @ E.T) / np.outer(norms, e_norms), 6
            )
            best = sims.argmax(axis=1)
            max_cos = sims[np.arange(len(pdf)), best]
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "best_eval_id": eval_ids[best],
                    "max_cos": max_cos,
                    "contaminated": max_cos >= threshold,
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        score,
        "vec_id bigint, best_eval_id bigint, max_cos double, "
        "contaminated boolean",
    )


def whitening_sample(
    df: DataFrame,
    sample_n: int = 4096,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """The ONE definition of the whitening fit sample: the `sample_n`
    smallest md5('whiten|id') draws with (_v, id) tiebreak (the
    `_bottom_k_rows` convention — reproducible across engines, runs,
    cluster sizes, and NESTED as sample_n grows). Returns the sampled
    vectors as a float64 ndarray (sample_n x dims, driver-bounded).
    :func:`fit_whitening` draws through this (and can hand the drawn
    ndarray back via ``return_sample=True``, which is how the
    `whitening_zca_invariant` registry query audits the SAME sample
    the fit consumed without a second draw job)."""
    import numpy as np

    from bolson_spark.functions.sketch import md5_draw

    drawn = df.select(
        F.col(vec_col),
        F.col(id_col).alias("_id"),
        md5_draw(F.col(id_col), "whiten").alias("_v"),
    )
    # (_v, id) ordering — equal draws at the sample_n cutoff resolve
    # deterministically; a bare orderBy("_v") would make the selected
    # set depend on scan order
    rows = (
        drawn.orderBy("_v", "_id").limit(sample_n).select(vec_col).collect()
    )
    return np.array([r[0] for r in rows], dtype=np.float64)


def fit_whitening(
    df: DataFrame,
    sample_n: int = 4096,
    eps: float = 1e-6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    diagonal: bool = False,
    return_sample: bool = False,
):
    """Fit a PCA-whitening transform W from a DETERMINISTIC bounded
    sample — the preprocessing that makes product quantization and
    cosine blocking behave on anisotropic embedding spaces (the OPQ
    insight: rotate/scale so per-dimension variance is uniform before
    quantizing).

    Production shape: the model side is a driver-scale object, exactly
    like ivf_train's centroids or pq_train's codebooks — the sample is
    the `sample_n` smallest md5 draws over ids (the `group_sample`
    machinery: reproducible across engines, runs, cluster sizes, and
    NESTED as sample_n grows), collected bounded (sample_n x dims
    floats), then numpy covariance + eigh. The corpus is never
    shuffled; growing the corpus changes the fit only through the
    deterministic sample.

    Returns (mean: np.ndarray[d], W: np.ndarray[d, d]) with
    W = V diag(1/sqrt(lam + eps)) V^T (symmetric ZCA whitening — keeps
    whitened axes aligned with the input space, the variant that
    composes with downstream sub-vector PQ splits).

    ``diagonal=True`` fits per-dimension STANDARDIZATION instead
    (W = diag(1/sqrt(var_d + eps)) — no rotation, no eigh), with the
    fit arithmetic pinned to exact integer fixed-point (floor(x*1e6)
    sums in int64, then a FIXED sequence of IEEE float ops) so the
    fitted (mean, W) are bit-reproducible by any engine from the same
    sample — the property that gives the whitening surface a
    cross-engine CORRECTNESS oracle (`whitening_stats`). The full ZCA
    path keeps numpy eigh (an eigendecomposition is not
    SQL-expressible; it is pytest-verified instead).
    """
    import numpy as np

    x = whitening_sample(df, sample_n, vec_col=vec_col, id_col=id_col)
    if diagonal:
        # exact integer fixed-point sums, then a PINNED float sequence:
        # every step below is either exact int64 arithmetic or a single
        # correctly-rounded IEEE op, so an oracle repeating the same
        # steps (floor/sum in SQL) lands on bit-identical (mean, w).
        n = len(x)
        # int64 proof obligation for the squared sum: n terms of xi^2
        # must stay under 2^63, i.e. |xi| <= sqrt((2^63-1)/n) — about
        # |x| <= 47 at n=4096, |x| <= 190 at n=256. numpy wraps
        # silently past that (negative var -> NaN W -> garbage
        # whitened vectors with no error, while the DuckDB twin's
        # HUGEINT sum raises instead of matching), so refuse loudly
        # at the bound. The check runs on the FLOAT side BEFORE the
        # int64 cast: the cast itself saturates |x*1e6| >= 2^63 (and
        # every NaN/inf) to INT64_MIN, whose np.abs is still negative
        # — a post-cast magnitude check never sees it. The +1 covers
        # floor() pushing a negative value one ulp-step larger in
        # magnitude. |sum(xi)| <= n*|xi|max = sqrt(n*(2^63-1)) is then
        # automatically safe.
        bound = math.isqrt((2**63 - 1) // max(n, 1))
        if n and not np.isfinite(x).all():
            raise ValueError(
                "fit_whitening(diagonal=True): non-finite embedding "
                "values in the sample — the exact fixed-point contract "
                "is undefined for NaN/inf"
            )
        amax_f = float(np.abs(x).max()) if n else 0.0
        if amax_f * 1e6 + 1 > bound:
            raise ValueError(
                f"fit_whitening(diagonal=True): |x| up to {amax_f} in "
                f"the {n}-row sample exceeds the int64-exact "
                f"fixed-point bound (|x| <~ {bound / 1e6:.1f} at "
                f"n={n}) — rescale the embeddings or reduce sample_n; "
                "the exact-integer contract cannot hold past it"
            )
        xi = np.floor(x * 1e6).astype(np.int64)
        sd = xi.sum(axis=0)
        sq = (xi * xi).sum(axis=0)
        mean = sd.astype(np.float64) / (float(n) * 1e6)
        var = sq.astype(np.float64) / (float(n) * 1e12) - mean * mean
        w = np.diag(1.0 / np.sqrt(var + eps))
        return (mean, w, x) if return_sample else (mean, w)
    mean = x.mean(axis=0)
    cov = np.cov(x - mean, rowvar=False, bias=True)
    lam, vecs = np.linalg.eigh(cov)
    w = vecs @ np.diag(1.0 / np.sqrt(np.maximum(lam, 0.0) + eps)) @ vecs.T
    # return_sample hands the caller the EXACT ndarray the fit
    # consumed (one sample job, no re-draw) — the zca-invariant audit
    # must check W against the fit's actual input, and a re-draw
    # duplicates the dominant corpus-side cost while silently drifting
    # if a parameter is later changed at only one call site.
    return (mean, w, x) if return_sample else (mean, w)


def apply_whitening(
    df: DataFrame,
    mean,
    w,
    vec_col: str = "embedding",
    out_col: str = "whitened",
) -> DataFrame:
    """Apply a fitted whitening transform: y = W (x - mean). Output
    keeps all input columns and appends `out_col` (array<double>).

    Two physical routes, one semantics:

    - DIAGONAL W (per-dim standardization — fit_whitening's
      diagonal=True output) is elementwise, so it stays entirely
      JVM-side: one `transform(x, (v,i) -> (v-mean[i])*w[i][i])`
      inside whole-stage codegen — no Python workers, no Arrow
      transfer (the r8 whitening_stats cost was mostly this
      round-trip). Bit-identical to the numpy route: both compute the
      same two single-rounded IEEE ops per element, and numpy's matmul
      only adds exact zeros for the off-diagonal terms (pinned by
      test_apply_whitening_diagonal_routes_match).
    - GENERAL W (rotation — the ZCA/eigh fit) needs a matvec per row,
      which is the Arrow-batched mapInPandas map: the model (dims +
      dims^2 floats) ships in the task closure like every
      centroid/codebook in this module — zero joins, zero shuffles,
      linear scan."""
    import numpy as np
    import pandas as pd

    mean = np.asarray(mean, dtype=np.float64)
    w_arr = np.asarray(w, dtype=np.float64)
    d = len(mean)
    off_diag = ~np.eye(d, dtype=bool)
    if w_arr.shape == (d, d) and not w_arr[off_diag].any():
        mean_lit = double_array_lit([float(v) for v in mean])
        diag_lit = double_array_lit([float(w_arr[i, i]) for i in range(d)])
        y = F.transform(
            F.col(vec_col).cast(T.ArrayType(T.DoubleType())),
            lambda x, i: (x - F.element_at(mean_lit, i + 1))
            * F.element_at(diag_lit, i + 1),
        )
        return df.withColumn(out_col, y)
    wt = w_arr.T  # (x - mean) @ W^T row-wise
    fields = df.schema.fields
    out_schema = T.StructType(
        list(fields) + [T.StructField(out_col, T.ArrayType(T.DoubleType()))]
    )

    def fn(it):
        for pdf in it:
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(x):
                y = (x - mean) @ wt
                pdf[out_col] = [row.tolist() for row in y]
            else:
                pdf[out_col] = pd.Series([], dtype=object)
            yield pdf

    return df.mapInPandas(fn, out_schema)
