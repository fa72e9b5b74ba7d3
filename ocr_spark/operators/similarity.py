"""Similarity search over an embedding column (``array<float>``).

* :func:`cosine_topk_bruteforce` — exact top-k per query via a broadcast
  join of the (small) query set against the corpus.  This is the baseline
  and the recall oracle; the cosine is computed JVM-side with
  ``zip_with``/``aggregate`` in double precision (engine-portable, no UDF).
* :func:`ivf_build` / :func:`cosine_topk_ivf` — the scale path: an IVF-style
  coarse quantizer.  Centroids come from a deterministic k-means (fixed
  seed, fixed iterations, numpy inside one pandas stage over a sampled
  slice), every vector is assigned to its nearest centroid (one narrow
  pandas stage), and a query probes only the ``n_probe`` nearest cells —
  at 10^12 scale that turns a full scan into a ~(n_probe/n_cells) scan,
  with the assignment stored as a partition-friendly int key.

Every operator reads ids from ``vec_id`` and vectors from ``embedding``.

Determinism: all randomness is a fixed-seed RandomState; ties broken by id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

SEED = 0xA11CE


def _cosine_expr() -> F.Column:
    dot = F.expr("aggregate(zip_with(q.v, c.v, (x, y) -> CAST(x AS DOUBLE) * y), "
                 "0D, (acc, x) -> acc + x)")
    norm = ("sqrt(aggregate(transform({0}.v, x -> CAST(x AS DOUBLE) * x), "
            "0D, (acc, x) -> acc + x))")
    # a zero vector makes this 0/0 — job-fatal DIVIDE_BY_ZERO under ANSI
    # mode (Spark 4 default), NaN-ranked ABOVE every real cosine without
    # it.  Zero vectors score 0.0: similar-to-nothing.
    den = F.expr(norm.format("q")) * F.expr(norm.format("c"))
    return F.when(den != 0, dot / den).otherwise(F.lit(0.0))


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame,
                           k: int = 5) -> DataFrame:
    """Exact top-k: (query_id, rank, vec_id, cosine), rank 1..k.

    The query side is broadcast (queries are few); the corpus is scanned
    once — the optimal plan at any corpus size when queries ≪ corpus.
    Ties break on vec_id ascending for full determinism.  This is the
    SQL-expressible oracle form (DuckDB twin in ``oracle_sql``); the scale
    path is :func:`cosine_topk_matmul`.
    """
    # null embeddings excluded on BOTH sides so the SQL form stays
    # row-identical with the matmul/IVF paths (whose numpy math cannot
    # represent them; a null row is not a meaningful candidate anyway)
    c = (corpus.filter(F.col("embedding").isNotNull())
         .select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
         .alias("c"))
    q = (queries.filter(F.col("embedding").isNotNull())
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("v"))
         .alias("q"))
    scored = (c.join(F.broadcast(q), F.col("q.qid") != F.col("c.id"))
              .select(F.col("q.qid").alias("query_id"),
                      F.col("c.id").alias("vec_id"),
                      _cosine_expr().alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine")))


def cosine_topk_matmul(corpus: DataFrame, queries: DataFrame,
                       k: int = 5) -> DataFrame:
    """Exact top-k via per-partition numpy matmul + global re-rank.

    The scale path: the (small) normalized query matrix is closed over and
    shipped once per executor; each corpus partition computes Q·Cᵀ as one
    BLAS call and emits only its local top-k per query (candidate count =
    partitions × k, not corpus size), then a window takes the global top-k.
    Same results as :func:`cosine_topk_bruteforce` (asserted in tests) at a
    fraction of the per-row SQL higher-order-function cost.  Local
    boundary ties are kept (all candidates at the k-th score survive to the
    global re-rank) so the (desc cosine, asc vec_id) tie-break is exact.
    Caveat: BLAS and SQL sum floats in different orders; two cosines within
    ~1 ulp of each other can still rank differently across engines after
    ``round(,6)`` — inherent to any float re-implementation.
    """
    import numpy as np
    import pandas as pd

    from ocr_spark.localrel import local_df

    qrows = (queries.filter(F.col("embedding").isNotNull())
             .select(F.col("vec_id").alias("qid"),
                     F.col("embedding").alias("v")).collect())
    if not qrows:
        # an empty/all-null query set must return an empty frame like the
        # SQL path — norm(axis=1) on a 1-D empty array raises AxisError
        return local_df(queries.sparkSession, [],
                        "query_id long, rank int, vec_id long, cosine double")
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["v"] for r in qrows], dtype=np.float64)
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)

    def local_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            cmat = np.array(list(pdf["v"]), dtype=np.float64)
            cmat /= np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True),
                               1e-30)
            sims = qmat @ cmat.T                      # nq × nc, one BLAS call
            take = min(k + 1, sims.shape[1])          # +1 absorbs self-match
            idx = np.argpartition(-sims, take - 1, axis=1)[:, :take]
            # local boundary score per query; emit EVERY candidate tied with
            # it — a tied row with a lower vec_id dropped here could win the
            # global (desc cosine, asc vec_id) ranking, breaking exactness
            # vs the SQL path under ties
            kth = np.take_along_axis(sims, idx, axis=1).min(axis=1)
            out = {"query_id": [], "vec_id": [], "cosine": []}
            for qi in range(len(qids)):
                for ci in np.nonzero(sims[qi] >= kth[qi])[0]:
                    out["query_id"].append(int(qids[qi]))
                    out["vec_id"].append(int(ids[ci]))
                    out["cosine"].append(float(sims[qi, ci]))
            yield pd.DataFrame(out)

    # a NULL embedding would build an object array and crash norm();
    # the SQL twin scores such rows 0.0 via its null-den fallback, but a
    # null vector is not a meaningful candidate either way — excluded
    c = (corpus.filter(F.col("embedding").isNotNull())
         .select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")))
    cands = c.mapInPandas(local_topk,
                          "query_id long, vec_id long, cosine double")
    cands = cands.filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (cands.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id",
                    F.round("cosine", 6).alias("cosine")))


# ---------------------------------------------------------------------------
# IVF (inverted-file) coarse quantizer
# ---------------------------------------------------------------------------

def _kmeans(vectors: np.ndarray, n_cells: int) -> np.ndarray:
    """Deterministic Lloyd's k-means (fixed seed init, 10 iterations)."""
    rng = np.random.RandomState(SEED)
    n = len(vectors)
    centroids = vectors[rng.choice(n, size=min(n_cells, n), replace=False)].copy()
    for _ in range(10):
        d = ((vectors[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(centroids)):
            members = vectors[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids


def ivf_build(corpus: DataFrame, n_cells: int = 16, sample: int = 2048
              ) -> tuple[np.ndarray, DataFrame]:
    """Train centroids on a deterministic sample; assign every vector.

    Returns (centroids ndarray, corpus + ``cell`` int column).  At scale the
    assigned frame would be written bucketed by ``cell`` so probes prune
    whole files (partition pruning does the IVF inverted-list read).

    The training sample is the ``sample`` rows with the SMALLEST
    ``md5(vec_id || 'ivf')`` bucket — a keyed-hash rule (same family as
    ``textstats.deterministic_sample``): unbiased across the whole corpus
    and parallelism-invariant.  Sampling by ``orderBy(id).limit`` would
    train centroids on the lowest-id slice, and at web scale ids correlate
    with crawl time/host — cells would fit the first crawl segment and
    probe recall would degrade on everything else.  Cost is identical:
    both compile to TakeOrderedAndProject (per-partition top-k + merge,
    no full sort shuffle).
    """
    corpus = corpus.filter(F.col("embedding").isNotNull())  # null vectors are
    # unindexable: np arithmetic in the sample/assign paths would crash
    bucket = F.conv(F.substring(
        F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("ivf"))), 1, 8),
        16, 10).cast("bigint")
    sample_rows = (corpus.orderBy(bucket.asc(), F.col("vec_id").asc())
                   .limit(sample).select("embedding").toPandas()["embedding"])
    vectors = np.array([np.asarray(v, dtype="float64") for v in sample_rows])
    centroids = _kmeans(vectors, n_cells)

    bc = centroids  # captured in closure, shipped once per executor

    @pandas_udf(T.IntegerType())
    def _assign(vec: pd.Series) -> pd.Series:
        out = []
        for v in vec:
            arr = np.asarray(v, dtype="float64")
            out.append(int(((bc - arr) ** 2).sum(axis=1).argmin()))
        return pd.Series(out, dtype="int32")

    assigned = corpus.withColumn("cell", _assign(F.col("embedding")))
    return centroids, assigned


def ivf_save(path: str, centroids: np.ndarray, assigned: DataFrame) -> None:
    """Persist the IVF index: centroids as parquet + the assigned corpus
    partitioned by ``cell``.

    This is the scale shape: build ONCE over the corpus, then every query
    batch loads centroids (tiny), computes its probe list driver-side, and
    reads only the probed ``cell=`` partition directories — the inverted-
    list read is hive partition pruning, proportional to n_probe/n_cells
    of the data, with no per-query k-means or assignment pass.
    """
    from ocr_spark.localrel import local_df

    spark = assigned.sparkSession
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    (local_df(spark, cent_rows, "cell int, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids"))
    (assigned.write.mode("overwrite").partitionBy("cell")
     .parquet(f"{path}/assigned"))


def ivf_load(spark, path: str) -> tuple[np.ndarray, DataFrame]:
    """Load a persisted IVF index → (centroids, assigned frame).

    The returned frame reads the ``cell``-partitioned layout, so a
    ``cell IN (probes)`` filter prunes partition directories (pinned by
    ``tests/test_plans.py``-style PartitionFilters checks in the IVF test).
    """
    cent = (spark.read.parquet(f"{path}/centroids")
            .orderBy("cell").collect())
    centroids = np.array([r["centroid"] for r in cent], dtype="float64")
    return centroids, spark.read.parquet(f"{path}/assigned")


def cosine_topk_ivf(assigned: DataFrame, centroids: np.ndarray,
                    queries: DataFrame, k: int = 5,
                    n_probe: int = 4) -> DataFrame:
    """Approximate top-k probing only the ``n_probe`` nearest cells per query.

    The probe list is computed driver-side (queries are small); the corpus
    join is an equi-join on ``cell`` — with a bucketed/partitioned corpus
    this prunes to n_probe/n_cells of the data before any distance math.
    """
    qrows = (queries.filter(F.col("embedding").isNotNull())
             .select(F.col("vec_id").alias("qid"),
                     F.col("embedding").alias("v")).collect())
    probe_rows = []
    for row in qrows:
        arr = np.asarray(row["v"], dtype="float64")
        order = np.argsort(((centroids - arr) ** 2).sum(axis=1), kind="stable")
        for cell in order[:n_probe]:
            probe_rows.append((row["qid"], int(cell), [float(x) for x in row["v"]]))
    from ocr_spark.localrel import local_df

    spark = assigned.sparkSession
    probes = local_df(spark, probe_rows,
                      "qid bigint, cell int, v array<double>").alias("q")

    # STATIC partition pruning: the probe cells are driver-known, and a
    # broadcast equi-join alone inserts no dynamic pruning for the
    # cell-partitioned layout — without this filter every probe scanned
    # the FULL corpus (all cell= directories), voiding the module's
    # n_probe/n_cells inverted-list claim (plan-pinned in tests)
    needed = sorted({cell for _, cell, _ in probe_rows})
    c = (assigned.filter(F.col("cell").isin(needed))
         .select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
                 "cell").alias("c"))
    scored = (c.join(F.broadcast(probes), "cell")
              .filter(F.col("q.qid") != F.col("c.id"))
              .select(F.col("q.qid").alias("query_id"),
                      F.col("c.id").alias("vec_id"),
                      _cosine_expr().alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine")))
