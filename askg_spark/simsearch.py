"""Similarity search over an embedding column (`array<float>`).

Three paths, same output contract (query_id, neighbor_id, rank):

  brute_force_topk   exact cosine top-k; the QUERY side is broadcast
                     (it is small by construction) so the big corpus
                     never shuffles — one scan, TakeOrdered per query
  lsh_topk           random-hyperplane LSH bucketing (deterministic,
                     seed-derived planes) -> candidates share >=1 band
                     -> exact rescore; sub-quadratic candidate
                     generation, the 100 TB path. Recall vs brute force
                     is measured, not assumed (tests/bench).
  ivf_topk           inverted-file index over spherical-k-means cells —
                     the data-DEPENDENT scale path (LSH is data-
                     oblivious): centroids trained distributed, corpus
                     assigned to one cell each, queries probe their
                     `nprobe` nearest cells, exact rescore inside the
                     probed cells. At scale the cell assignment is a
                     bucketed/partitioned corpus table reused across
                     query batches. Recall measured in tests/bench.

Scores stay internal (floats don't travel across engine boundaries);
ranks are ordered by (cosine desc, neighbor_id asc) — fully
deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    `queries(query_id, embedding)` is broadcast; corpus scan stays
    shuffle-free until the final per-query top-k (a window over the
    small (|queries| x |corpus|) score frame, AQE-coalesced)."""
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"),
                        _as_double(F.col("embedding")).alias("vc"))
    q = queries.select(F.col("query_id"),
                       _as_double(F.col("embedding")).alias("vq"))
    scored = (
        corpus.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine",
                    _dot(F.col("vq"), F.col("vc"))
                    / (_norm(F.col("vq")) * _norm(F.col("vc"))))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def _hyperplanes(dim: int, n_planes: int):
    """Deterministic pseudo-random unit hyperplanes (pure function of
    (plane, dim) via md5 — identical on every executor/run)."""
    import hashlib

    import numpy as np

    planes = np.empty((n_planes, dim))
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"42:{p}:{d}".encode()).digest()
            planes[p, d] = int.from_bytes(h[:8], "big") / 2**63 - 1.0
    return planes


def lsh_signatures(emb: DataFrame, n_planes: int = 16,
                   id_col: str = "vec_id") -> DataFrame:
    """Sign-pattern signature: bit p = (v . plane_p) >= 0. Arrow-batched
    numpy matmul — one GEMV per batch, no per-row Python."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    def run(batches):
        planes = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if planes is None:
                planes = _hyperplanes(mat.shape[1], n_planes)
            bits = (mat @ planes.T) >= 0
            sig = (bits * (1 << np.arange(n_planes, dtype=np.uint64))).sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "signature": sig.astype(np.int64)})

    schema = StructType([StructField(id_col, LongType()),
                         StructField("signature", LongType())])
    return emb.select(id_col, "embedding").mapInPandas(run, schema=schema)


def kmeans_centroids(emb: DataFrame, n_cells: int = 16, n_iter: int = 5):
    """Spherical k-means centroids (unit-norm rows, numpy array
    n_cells x dim) trained distributed:

      init      the `n_cells` corpus vectors with the smallest
                md5(id-as-string) — deterministic, seed-free, one
                TakeOrdered; md5 (not xxhash64) so a SQL oracle can
                reproduce the seed choice engine-independently
      iterate   broadcast centroids -> one mapInPandas pass emits
                per-Arrow-batch PARTIAL sums (cell, n, sum-vector);
                partials (~ n_cells x n_batches rows, tiny at any corpus
                size) reduce on the driver in sorted order so float
                summation order is fixed -> re-normalized means

    Per-iteration driver traffic is O(n_cells * n_partitions * dim)
    floats — centroid state is broadcast-small by construction, which
    is exactly why IVF training maps onto Spark without a parameter
    server. Empty cells keep their previous centroid (standard Lloyd
    fallback) so the cell count never silently shrinks."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   LongType, StructField, StructType)

    seeds = (emb.select("vec_id", "embedding")
             .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
             .limit(n_cells).collect())
    cent = np.array([list(r["embedding"]) for r in seeds], dtype=np.float64)
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)

    schema = StructType([
        StructField("cell", IntegerType()),
        StructField("n", LongType()),
        StructField("vsum", ArrayType(DoubleType())),
    ])
    spark = emb.sparkSession

    for _ in range(n_iter):
        bc = spark.sparkContext.broadcast(cent)

        def partials(batches):
            c = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
                cell = np.argmax(mat_n @ c.T, axis=1)
                rows = []
                for ci in np.unique(cell):
                    sel = mat_n[cell == ci]
                    rows.append((int(ci), len(sel), sel.sum(axis=0).tolist()))
                yield pd.DataFrame(rows, columns=["cell", "n", "vsum"])

        parts = (emb.select("embedding").mapInPandas(partials, schema=schema)
                 .collect())
        nxt = cent.copy()
        acc: dict[int, tuple[int, "np.ndarray"]] = {}
        for r in sorted(parts, key=lambda r: (r["cell"], -r["n"],
                                              tuple(r["vsum"]))):
            n0, v0 = acc.get(r["cell"], (0, np.zeros(cent.shape[1])))
            acc[r["cell"]] = (n0 + r["n"],
                              v0 + np.asarray(r["vsum"], dtype=np.float64))
        for ci, (n, vsum) in acc.items():
            if n > 0:
                nrm = np.linalg.norm(vsum)
                if nrm > 0:
                    nxt[ci] = vsum / nrm
        bc.unpersist()
        # exact-equality stop (not allclose): breaking only at a true
        # fixed point means running fewer-or-more iterations is a
        # no-op, so a fixed-unroll SQL oracle reproduces the result
        if np.array_equal(nxt, cent):
            break
        cent = nxt
    return cent


def ivf_assign(emb: DataFrame, centroids, nprobe: int = 1,
               id_col: str = "vec_id") -> DataFrame:
    """-> (id_col, cell) with each vector's `nprobe` nearest centroid
    cells (nprobe=1 builds the inverted lists; >1 is the query-side
    multi-probe). Broadcast GEMM per Arrow batch — the corpus never
    shuffles; at 100 TB the nprobe=1 output is written as a table
    bucketed by `cell` so searches are map-side joins."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    bc = emb.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64))

    def run(batches):
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ c.T
            if nprobe == 1:
                cells = np.argmax(sims, axis=1)[:, None]
            else:
                cells = np.argsort(-sims, axis=1)[:, :nprobe]
            n = cells.shape[1]
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), n),
                "cell": cells.reshape(-1).astype(np.int32)})

    schema = StructType([StructField(id_col, LongType()),
                         StructField("cell", IntegerType())])
    return emb.select(id_col, "embedding").mapInPandas(run, schema=schema)


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = 16, nprobe: int = 4,
             centroids=None) -> DataFrame:
    """Approximate top-k via an inverted-file index: candidates = corpus
    vectors whose cell is among the query's `nprobe` nearest cells,
    exact cosine rescore + per-query top-k inside the candidates.

    Search cost ~ nprobe/n_cells of the corpus per query (vs the LSH
    path's collision-rate-driven candidates) and the index adapts to
    the data: clustered corpora get tight cells where hyperplane LSH
    needs luck. Pass `centroids` to reuse a trained index across query
    batches (the 100 TB pattern: train once, assign once into a
    cell-bucketed table, probe forever)."""
    if centroids is None:
        centroids = kmeans_centroids(emb, n_cells)
    corpus_cells = ivf_assign(emb, centroids, nprobe=1)
    query_cells = ivf_assign(queries, centroids, nprobe=nprobe,
                             id_col="query_id")
    cands = (
        corpus_cells.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(query_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id").dropDuplicates()
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"),
                        _as_double(F.col("embedding")).alias("vc"))
    q = queries.select(F.col("query_id").alias("qid"),
                       _as_double(F.col("embedding")).alias("vq"))
    scored = (
        cands.join(corpus, "neighbor_id")
        .join(F.broadcast(q), F.col("query_id") == F.col("qid"))
        .withColumn("cosine",
                    _dot(F.col("vq"), F.col("vc"))
                    / (_norm(F.col("vq")) * _norm(F.col("vc"))))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def lsh_topk(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing >=1
    signature band with the query (banded random-hyperplane LSH), exact
    cosine rescore + top-k within candidates.

    The candidate join is an equi-join on (band index, band value) —
    shuffle on the band key only; at 100 TB the corpus side is
    pre-bucketed by band so probes are map-side.

    Banding is recall-first (24 planes in 2-bit x 12 bands): the driver's
    embeddings corpus has top-k neighbors at cosine ~0.33-0.45
    (measured, BENCH.md) — per-plane agreement p~0.61, so a 2-bit band
    hits with p^2~0.37 and 12 bands miss a true neighbor with
    (1-0.37)^12 ~ 0.4%. With 40 benched pairs that still loses ~1-2
    pairs some seeds (measured 0.95 at sf0.1), so the QUERY side also
    probes each band's single-bit flips: the band hits when <=1 of its
    bits disagrees, p^2 + 2p(1-p) ~ 0.85 per band, miss ~ (0.15)^12 ~
    2e-10. Cost: 3 rows per query band (queries are small by
    construction); the CORPUS index is unchanged — at scale the
    pre-bucketed corpus table is shared by probed and unprobed reads
    alike."""
    n_planes, band_bits = 24, 2

    def banded(sig_df, id_alias, probe=False):
        # per band i: value v = bits [i*band_bits, (i+1)*band_bits);
        # with probe, also emit v ^ (1 << j) for each bit j — the
        # Hamming<=1 neighborhood of the band value.
        def band_val(i):
            return (F.shiftright("signature", i * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1)))
        vals = []
        for i in range(n_planes // band_bits):
            flips = [0] + ([1 << j for j in range(band_bits)]
                           if probe else [])
            for flip in flips:
                vals.append(F.concat_ws(
                    ":", F.lit(i),
                    band_val(i).bitwiseXOR(F.lit(flip))))
        return sig_df.select(
            F.col(sig_df.columns[0]).alias(id_alias),
            F.explode(F.array(*vals)).alias("band"),
        ).dropDuplicates()

    corpus_sig = banded(lsh_signatures(emb, n_planes), "neighbor_id")
    query_sig = banded(lsh_signatures(queries, n_planes, id_col="query_id"),
                       "query_id", probe=True)
    cands = (
        corpus_sig.join(F.broadcast(query_sig), "band")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id").dropDuplicates()
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"),
                        _as_double(F.col("embedding")).alias("vc"))
    q = queries.select(F.col("query_id").alias("qid"),
                       _as_double(F.col("embedding")).alias("vq"))
    scored = (
        cands.join(corpus, "neighbor_id")
        .join(F.broadcast(q), F.col("query_id") == F.col("qid"))
        .withColumn("cosine",
                    _dot(F.col("vq"), F.col("vc"))
                    / (_norm(F.col("vq")) * _norm(F.col("vc"))))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label embedding centroid SUMS as exact scaled integers,
    one row per (label, dimension): -> (label, pos, n_vecs,
    sum_scaled) with sum_scaled = sum over the group of
    floor(embedding[pos] * 10^6), pos 0-based.

    The grouped `applyInPandas` surface (one Arrow batch per group,
    numpy matrix sum — the §2.9 family member the rest of the engine
    doesn't otherwise exercise outside streaming state). Integer sums
    are order-independent, so the output hash-matches the SQL oracle
    on any partitioning; the consumer divides by n_vecs for the float
    centroid. Every output column is scalar (the exploded shape) so
    downstream sort/hash canonicalization works — and it is also the
    pre-aggregation shape for the 10^12 regime, where per-label
    groups exceed one task's Arrow batch budget and the posexplode +
    groupBy(label, pos) JVM path takes over; this operator is the
    one-group-per-task formulation appropriate while groups fit (the
    common case: labels ~ classes/clusters, not users)."""
    import numpy as np
    import pandas as pd

    def agg(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = np.floor(
            np.stack(pdf["embedding"].to_numpy()).astype("float64") * 1e6
        ).astype("int64")
        sums = m.sum(axis=0)
        d = len(sums)
        return pd.DataFrame({
            "label": [pdf["label"].iloc[0]] * d,
            "pos": np.arange(d, dtype="int64"),
            "n_vecs": np.full(d, len(pdf), dtype="int64"),
            "sum_scaled": sums,
        })

    return emb.groupBy("label").applyInPandas(
        agg, "label int, pos long, n_vecs long, sum_scaled long")
