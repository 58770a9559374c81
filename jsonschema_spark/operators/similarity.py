"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  dot product is a JVM-side ``zip_with``+``aggregate`` expression (no Python).
- ``cosine_lsh_topk``: the scale path — random-hyperplane LSH buckets turn
  the all-pairs join into an equi-join on bucket keys; candidates are then
  ranked exactly. Recall is tunable via (planes, tables).
- ``ivf_topk``: IVF-style coarse quantization — assign every vector to its
  nearest of C centroids (one broadcast join), probe the closest ``nprobe``
  centroids per query. At 10^12 rows this is the layout that avoids reading
  the whole corpus per query: partition/bucket the corpus by centroid id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _vectors(df: DataFrame, id_col: str, vec_col: str, side: str, *extra) -> DataFrame:
    """``df``'s ids and vectors, widened to ``array<double>``, with their
    norms: (nid, cv, cnrm) for the corpus side ``"c"``, (qid, qv, qnrm) for
    the query side ``"q"``."""
    ids = "nid" if side == "c" else "qid"
    return df.select(
        F.col(id_col).alias(ids), F.col(vec_col).cast("array<double>").alias(f"{side}v"),
        *extra,
    ).withColumn(f"{side}nrm", _norm(F.col(f"{side}v")))


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Score each (query, candidate) pair by cosine and keep each query's
    ``k`` best, ties broken by neighbor id: (query_id, rank, neighbor_id,
    cos)."""
    pairs = pairs.withColumn(
        "cos", _dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"), "rank", F.col("nid").alias("neighbor_id"),
            F.round("cos", 6).alias("cos"),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine: (query_id, rank, neighbor_id,
    cos). Brute force: |queries| × |corpus| — use with a bounded query set or
    as the recall oracle for the approximate paths."""
    c = _vectors(corpus, id_col, vec_col, "c")
    q = _vectors(queries, id_col, vec_col, "q")
    # queries are the small side — broadcast them so the corpus never shuffles
    return _top_k(c.crossJoin(F.broadcast(q)).where(F.col("qid") != F.col("nid")), k)


def _hyperplanes(dim: int, planes: int, seed: int) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((planes, dim)).tolist()


def resolve_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Resolve the embedding dimension the LSH hyperplanes must match.

    A wrong literal dim is a SILENT scale-killer: every zip_with dot
    product against a mismatched hyperplane is NULL, every bucket bit
    collapses to 0, and the bucket equi-join degenerates into an all-pairs
    product. So: derive dim from the first row when not given, and fail
    fast when a passed value contradicts the data (one bounded single-row
    driver action either way)."""
    row = df.select(F.size(vec_col).alias("d")).first()
    if row is None:
        return dim or 0  # empty input: any plane set yields an empty result
    measured = int(row["d"])
    if dim is not None and dim != measured:
        raise ValueError(
            f"embedding dim mismatch: caller passed dim={dim} but column "
            f"{vec_col!r} has {measured}-element vectors"
        )
    return measured


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit b = sign(<v, plane_b>) — packed long."""
    bits = None
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(float(x)) for x in p]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(d >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = F.shiftleft(bit, i)
        bits = term if bits is None else bits.bitwiseXOR(term)
    return bits


def lsh_buckets_all(vec_col_sql: str, all_planes: list[list[list[float]]]) -> Column:
    """Packed bucket signatures for EVERY hash table in one expression:
    ``array<struct<tbl:int, bkt:bigint>>`` from a ``tables x planes x dim``
    hyperplane tensor.

    Same math as ``lsh_bucket`` per table, but the whole computation —
    nested hyperplane literal included — is built as ONE ``F.expr`` string:
    the per-``F.lit`` construction costs tables x planes x dim py4j round
    trips (thousands of driver<->JVM calls, seconds of plan-construction
    wall before any task runs) and emits an aggregate-expression forest;
    this form is a single driver call parsed JVM-side, and the per-row work
    is identical element arithmetic under higher-order functions.

    ``vec_col_sql``: SQL identifier/expression for the vector column."""
    tensor = "array(" + ",".join(
        "array(" + ",".join(
            "array(" + ",".join(repr(float(x)) for x in plane) + ")"
            for plane in tbl
        ) + ")"
        for tbl in all_planes
    ) + ")"
    n_tables = len(all_planes)
    sql = f"""
    zip_with(
      sequence(0, {n_tables - 1}),
      transform(
        CAST({tensor} AS array<array<array<double>>>),
        t -> aggregate(
               zip_with(
                 transform(t, p -> IF(aggregate(zip_with({vec_col_sql}, p,
                                                         (x, y) -> x * y),
                                                0D, (a, x) -> a + x) >= 0D,
                                      1L, 0L)),
                 sequence(0, size(t) - 1),
                 (b, i) -> shiftleft(b, CAST(i AS INT))),
               0L, (a, x) -> a + x)),
      (i, b) -> struct(CAST(i AS INT) AS tbl, b AS bkt)
    )
    """
    return F.expr(sql)


def cosine_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 12,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing an LSH bucket with the
    query in ANY of ``tables`` hash tables; exact cosine rank on candidates.
    ``dim`` defaults to the corpus's measured vector length (see
    resolve_dim — a mismatched literal silently zeroes every bucket)."""
    dim = resolve_dim(corpus, vec_col, dim)
    c = _vectors(corpus, id_col, vec_col, "c")
    q = _vectors(queries, id_col, vec_col, "q")

    all_planes = [_hyperplanes(dim, planes, seed + t) for t in range(tables)]
    cb = c.select("nid", "cv", "cnrm",
                  F.explode(lsh_buckets_all("cv", all_planes)).alias("e")).select(
        "nid", "cv", "cnrm", "e.tbl", "e.bkt"
    )
    qb = q.select("qid", "qv", "qnrm",
                  F.explode(lsh_buckets_all("qv", all_planes)).alias("e")).select(
        "qid", "qv", "qnrm", "e.tbl", "e.bkt"
    )
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bkt"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "qv", "qnrm", "nid", "cv", "cnrm")
        .distinct()
    )
    return _top_k(cand, k)


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (L2): adds ``cluster``.
    Centroids ship as literal arrays (broadcast by value) — the corpus scan
    stays shuffle-free; at scale, write the result bucketed by cluster."""
    v = F.col(vec_col).cast("array<double>")
    best_id, best_d = None, None
    for ci, cvec in enumerate(centroids):
        carr = F.array(*[F.lit(float(x)) for x in cvec])
        d = F.aggregate(
            F.zip_with(v, carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if best_d is None:
            best_id, best_d = F.lit(ci), d
        else:
            cond = d < best_d
            best_id = F.when(cond, F.lit(ci)).otherwise(best_id)
            best_d = F.when(cond, d).otherwise(best_d)
    return corpus.withColumn("cluster", best_id)


def train_centroids(
    corpus: DataFrame, c: int = 16, iters: int = 5, vec_col: str = "embedding",
    dim: int = 64, seed: int = 42, id_col: str = "vec_id",
) -> list[list[float]]:
    """Mini k-means on a driver-collected sample (centroid training is
    sample-based even at scale; only assignment is distributed). The sample
    is the 4096 lowest-id vectors — a bare ``limit`` without an order is
    partition-layout-dependent, which would make centroids (and thus every
    IVF result) nondeterministic across runs."""
    import numpy as np

    sample = np.array(
        corpus.select(id_col, vec_col).orderBy(id_col).limit(4096)
        .toPandas()[vec_col].tolist(), dtype=np.float64
    )
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=min(c, len(sample)), replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(cent)):
            m = sample[assign == j]
            if len(m):
                cent[j] = m.mean(axis=0)
    return cent.tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: rank only vectors in the query's ``nprobe`` nearest
    clusters. Returns (query_id, rank, neighbor_id, cos)."""
    import numpy as np

    assigned = _vectors(ivf_assign(corpus, centroids, id_col, vec_col),
                        id_col, vec_col, "c", "cluster")

    qrows = queries.select(id_col, vec_col).collect()
    cent = np.array(centroids)
    probe_rows = []
    for r in qrows:
        qv = np.array(r[vec_col], dtype=np.float64)
        d = ((cent - qv) ** 2).sum(axis=1)
        for cl in np.argsort(d)[:nprobe]:
            probe_rows.append((r[id_col], int(cl), qv.tolist()))
    spark = corpus.sparkSession
    probes = spark.createDataFrame(probe_rows, f"qid long, cluster int, qv array<double>")
    probes = probes.withColumn("qnrm", _norm(F.col("qv")))

    return _top_k(
        assigned.join(F.broadcast(probes), "cluster").where(F.col("qid") != F.col("nid")), k)


def embedding_drift(
    df: DataFrame,
    part_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-partition embedding-distribution drift: cosine of each
    partition's centroid against the global centroid, plus the partition's
    mean vector norm — the embedding analogue of the scalar-column drift
    pass (a shifted or degenerate batch of embeddings moves its centroid
    away from cos≈1 and/or its norm profile).

    Scale shape: ONE scan → ``posexplode`` → one hash aggregation keyed by
    (partition, dimension); everything after runs on the partitions × dims
    table (global centroid = per-dimension sums re-aggregated — no second
    fact scan; the dims table is broadcast back). No driver-side collect,
    no UDF.

    Returns (part_id, cos_to_global, mean_norm, n).
    """
    # widen each component to double BEFORE squaring (float*float loses the
    # low bits the DuckDB oracle keeps when it widens first)
    norm = _norm(F.col(vec_col).cast("array<double>"))
    e = df.select(
        F.col(part_col).alias("part_id"),
        norm.alias("nrm"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    # each (part_id, pos) group holds every row of the partition exactly
    # once, so count/avg(nrm) are per-partition row count / mean norm
    per = e.groupBy("part_id", "pos").agg(
        F.sum(F.col("val").cast("double")).alias("s"),
        F.count(F.lit(1)).alias("c"),
        F.avg("nrm").alias("mn"),
    )
    g = per.groupBy("pos").agg((F.sum("s") / F.sum("c")).alias("gv"))
    j = per.join(F.broadcast(g), "pos")
    cp = F.col("s") / F.col("c")  # partition centroid component
    agg = j.groupBy("part_id").agg(
        F.sum(cp * F.col("gv")).alias("num"),
        F.sqrt(F.sum(cp * cp)).alias("np"),
        F.sqrt(F.sum(F.col("gv") * F.col("gv"))).alias("ng"),
        F.max("c").alias("n"),
        F.max("mn").alias("mean_norm"),
    )
    return agg.select(
        "part_id",
        (F.col("num") / F.greatest(F.col("np") * F.col("ng"), F.lit(1e-12)))
        .alias("cos_to_global"),
        "mean_norm",
        "n",
    )
