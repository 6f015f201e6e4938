"""Similarity search over embedding columns: exact brute-force baseline and
LSH-bucketed approximate path.

Scale design: exact top-k for a bounded query set (brute_force_topk_many)
is one corpus scan with a per-Arrow-batch matmul — scan-bandwidth bound.
For all-pairs workloads the hyperplane-LSH bucket join turns the O(n·m)
similarity matrix into an equi-join on bucket ids; recall is tuned by
n_planes (bucket width) and multi-probe (neighboring buckets).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Seeded deterministic hyperplanes (no numpy dependency at executor)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_bucket_col(
    vec: Column, dim: int = 64, n_planes: int = 8, seed: int = 7
) -> Column:
    """LSH bucket id = integer of sign bits of <vec, r_i>, pure expressions."""
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_lit = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, plane_lit, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def _lsh_codes_udf(n_planes: int, n_tables: int, seed: int):
    """Vectorized LSH encoder: one pandas UDF returning every table's code
    for a vector as ``array<long>`` (index = table). Per Arrow batch this is
    a single (B×d)@(d×T·P) matmul + sign-bit pack — replacing T·P
    interpreted 64-element aggregate-fold expressions per row. Planes are
    regenerated inside the worker from (seed, observed dim) — deterministic,
    identical on the corpus and query sides, and dimension-agnostic like the
    fold-based encoder it replaces."""
    from pyspark.sql.functions import pandas_udf

    _n_tables, _n_planes, _seed = int(n_tables), int(n_planes), int(seed)

    @pandas_udf("array<long>")
    def codes(vecs: pd.Series) -> pd.Series:
        import random

        import numpy as np

        X = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)))
        planes = []
        for t in range(_n_tables):  # same sequence as _hyperplanes()
            rng = random.Random(_seed + 9973 * t)
            planes += [
                [rng.gauss(0.0, 1.0) for _ in range(X.shape[1])]
                for _ in range(_n_planes)
            ]
        P = np.array(planes, dtype=np.float64)  # (T·planes, d)
        bits = (X @ P.T) > 0  # (B, T·planes)
        bits = bits.reshape(len(X), _n_tables, _n_planes)
        weights = (1 << np.arange(_n_planes)).astype(np.int64)
        out = (bits * weights).sum(axis=2).astype(np.int64)  # (B, T)
        return pd.Series(list(out))

    return codes


def _bucket_rerank(e: DataFrame, q: DataFrame, k: int, id_col: str) -> DataFrame:
    """Bucket-local exact re-rank: cogroup corpus (_eid, _evec) and query
    (query_id, _qvec) rows on (_t, _b); one numpy matmul scores every pair
    INSIDE the bucket and only the per-query top-k leaves it. Avoids
    materializing the candidate-pair relation entirely — the all-pairs work
    is block-local arithmetic, the shuffle is bounded by buckets·queries·k
    output rows. Deterministic: corpus sorted by id, stable argsort, sims
    rounded before selection so ties break exactly like the global window
    (cos_sim desc, id asc)."""
    _k = int(k)

    def score(key, cdf: pd.DataFrame, qdf: pd.DataFrame):
        import numpy as np
        import pandas as _pd

        if cdf.empty or qdf.empty:
            return _pd.DataFrame(
                {"query_id": _pd.Series(dtype="int64"),
                 id_col: _pd.Series(dtype="int64"),
                 "cos_sim": _pd.Series(dtype="float64")}
            )
        cdf = cdf.sort_values("_eid", kind="stable")
        eids = cdf["_eid"].to_numpy(dtype=np.int64)
        X = np.stack(cdf["_evec"].map(lambda v: np.asarray(v, np.float64)))
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        qids = qdf["query_id"].to_numpy(dtype=np.int64)
        Q = np.stack(qdf["_qvec"].map(lambda v: np.asarray(v, np.float64)))
        Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        sims = np.round(X @ Q.T, 6)  # (C, q)
        sims[eids[:, None] == qids[None, :]] = -np.inf  # self-match
        kk = min(_k, len(eids))
        top = np.argsort(-sims, axis=0, kind="stable")[:kk]  # (kk, q)
        out = _pd.DataFrame(
            {
                "query_id": np.repeat(qids[None, :], kk, axis=0).ravel(),
                id_col: eids[top].ravel(),
                "cos_sim": np.take_along_axis(sims, top, axis=0).ravel(),
            }
        )
        return out[out["cos_sim"] > -np.inf]

    return (
        e.groupBy("_t", "_b")
        .cogroup(q.groupBy("_t", "_b"))
        .applyInPandas(score, schema=f"query_id long, {id_col} long, cos_sim double")
    )


#: brute_force_topk_many collects the query set to the driver; above this
#: many queries the closure-shipped matrix stops being "bounded evaluation
#: sample"-sized and the caller should batch queries or use the ANN paths.
MAX_COLLECTED_QUERIES = 10_000


def brute_force_topk_many(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    max_queries: int = MAX_COLLECTED_QUERIES,
) -> DataFrame:
    """Exact cosine top-k for MANY queries — blocked matrix multiply.

    The query set is a BOUNDED evaluation sample (standard ANN recall
    protocol), so it is collected once and shipped by value in the UDF
    closure; the O(n·q·d) scoring runs as one numpy matmul per Arrow batch
    inside ``mapInPandas`` with per-batch local top-k, then a global window
    keeps k per query. The corpus is read exactly once, nothing shuffles
    except n_batches·q·k candidate rows — at 100 TB this is scan-bandwidth
    bound, the optimum for exact many-query kNN. (A crossJoin + per-pair
    interpreted fold computes the same thing ~10× slower.)"""
    import numpy as np
    from pyspark.sql import Window

    # Enforce the "bounded query set" premise instead of silently OOMing the
    # driver: limit()+1 makes the check itself cost O(max_queries), never a
    # full materialization of an unexpectedly huge query frame.
    probe = queries.select(query_id_col).limit(max_queries + 1).count()
    if probe > max_queries:
        raise ValueError(
            f"brute_force_topk_many: query set exceeds max_queries="
            f"{max_queries}; it is collected to the driver and shipped in "
            "the scan closure, so batch the queries or use an ANN path "
            "(ann_topk/ivf_topk) for query sets this large"
        )
    qrows = sorted(
        queries.select(query_id_col, query_vec_col).collect(), key=lambda r: r[0]
    )
    qids = [int(r[0]) for r in qrows]
    Q = np.array([list(map(float, r[1])) for r in qrows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    _k = int(k)

    def scan(batches):
        import numpy as _np
        import pandas as _pd

        Qn = _np.asarray(Q)
        ids = _np.asarray(qids, dtype=_np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(id_col, kind="stable")
            eids = pdf[id_col].to_numpy(dtype=_np.int64)
            X = _np.stack(pdf[vec_col].map(lambda v: _np.asarray(v, _np.float64)))
            X /= _np.maximum(_np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            sims = _np.round(X @ Qn.T, 6)  # (B, q)
            sims[eids[:, None] == ids[None, :]] = -_np.inf  # self-match
            kk = min(_k, len(eids))
            # stable argsort: ties break to the lowest vec_id (rows pre-sorted)
            top = _np.argsort(-sims, axis=0, kind="stable")[:kk]  # (kk, q)
            out = _pd.DataFrame(
                {
                    "query_id": _np.repeat(ids[None, :], kk, axis=0).ravel(),
                    id_col: eids[top].ravel(),
                    "cos_sim": _np.take_along_axis(sims, top, axis=0).ravel(),
                }
            )
            yield out[out["cos_sim"] > -_np.inf]

    local = emb.select(id_col, vec_col).mapInPandas(
        scan, schema=f"query_id long, {id_col} long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", id_col, "cos_sim", "rnk")
    )


def recall_at_k(approx_topk: DataFrame, exact_topk: DataFrame, k: int) -> DataFrame:
    """recall@k of an approximate top-k result against the exact ground
    truth: |approx ∩ exact| / k averaged over queries. Both inputs carry
    (query_id, vec_id). A semi-join + two aggregates — no collect."""
    hits = approx_topk.select("query_id", "vec_id").join(
        exact_topk.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    )
    per_query = (
        exact_topk.select("query_id").distinct()
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")),
            "query_id",
            "left",
        )
        .select("query_id", F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"))
    )
    return per_query.agg(
        F.round(F.avg(F.col("n_hits") / F.lit(float(k))), 4).alias("recall_at_k"),
        F.count(F.lit(1)).alias("n_queries"),
    )


def ann_bucketed_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    n_planes: int = 6,
    n_tables: int = 1,
    multiprobe: bool = False,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k neighbors for MANY queries at once.

    Both sides are bucketed by the same seeded hyperplanes; candidates come
    from the bucket equi-join; exact cosine re-ranks within buckets and a
    ranking window takes k per query. Sub-linear candidate generation,
    deterministic output (seeded planes, total ordering with id tiebreak).

    Recall is tuned by three standard LSH knobs (Indyk-Motwani multi-table,
    Lv et al. multi-probe):

    * ``n_planes`` — bits per code: more planes → smaller buckets → fewer
      candidates and lower per-table recall.
    * ``n_tables`` — independent hash tables (different seeds); a neighbor
      is a candidate if it collides in ANY table:
      recall ≈ 1-(1-p^b)^L for per-bit agreement p.
    * ``multiprobe`` — queries also probe every bucket at Hamming distance
      1 from their code (flip each bit), catching neighbors that disagree
      on exactly one plane without paying for another table.

    Physical strategy (scale-first): per-table codes for ALL tables come
    from ONE vectorized pandas-UDF matmul (sign bits of X @ planesᵀ) — not
    n_tables·n_planes interpreted 64-element fold expressions; Hamming-1
    probe buckets are derived JVM-side by XOR on the materialized code
    column. Candidate scoring never materializes per-pair rows: corpus and
    query rows are cogrouped by (table, bucket) and each bucket re-ranks
    with one local numpy matmul, emitting only its per-query top-k. The
    global answer is a dedup + window over n_buckets·q·k small rows. The
    only wide exchange is the corpus replicated n_tables ways — the
    standard multi-table LSH storage cost."""
    from pyspark.sql import Window

    codes = _lsh_codes_udf(n_planes, n_tables, seed)
    e = emb.select(
        F.col(id_col).alias("_eid"),
        F.col(vec_col).alias("_evec"),
        codes(F.col(vec_col)).alias("_codes"),
    ).select("_eid", "_evec", F.posexplode("_codes").alias("_t", "_b"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qvec"),
        codes(F.col(query_vec_col)).alias("_codes"),
    ).select("query_id", "_qvec", F.posexplode("_codes").alias("_t", "_b0"))
    if multiprobe:
        probe_arr = F.array(
            F.col("_b0"),
            *[F.col("_b0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
    else:
        probe_arr = F.array(F.col("_b0"))
    q = q.select("query_id", "_qvec", "_t", F.explode(probe_arr).alias("_b"))

    scored = _bucket_rerank(e, q, k=k, id_col=id_col)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.dropDuplicates(["query_id", id_col])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", id_col, "cos_sim", "rnk")
    )


def knn_label_vote(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    **kwargs,
) -> DataFrame:
    """Majority-label classification from the ANN top-k (ground-truth demo)."""
    topk = ann_bucketed_topk(emb, queries, k=k, **kwargs)
    labeled = topk.join(
        emb.select(F.col("vec_id"), F.col("label")), "vec_id"
    )
    votes = labeled.groupBy("query_id", "label").agg(F.count(F.lit(1)).alias("votes"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        votes.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
    )


def train_ivf_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iter: int = 5,
    sample_n: int = 512,
) -> list[list[float]]:
    """Train an IVF coarse quantizer: spherical k-means on a BOUNDED,
    deterministic sample (lowest ids). Standard IVF practice — the training
    set is O(centroids), tiny vs the corpus, so collecting it to the driver
    is by design; the O(N) assignment pass stays distributed (see
    assign_ivf_cells). Deterministic: fixed sample, first-k init, argmax
    ties break to the lowest centroid index."""
    import numpy as np

    rows = (
        emb.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    )
    X = np.array([r[1] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_centroids].copy()
    for _ in range(n_iter):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C.tolist()


def assign_ivf_cells(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    n_probe: int = 1,
    out_col: str = "cell",
) -> DataFrame:
    """Attach each vector's n_probe nearest IVF cells as an array<int>.

    One vectorized pandas UDF: per Arrow batch a single (B×d)@(d×k) matmul
    — the O(N·k·d) assignment runs fully distributed, no shuffle. The
    centroid matrix travels by value in the closure (small: k×d floats), so
    executors need no repo imports."""
    from pyspark.sql.functions import pandas_udf

    _centroids = [list(map(float, c)) for c in centroids]
    _n_probe = int(n_probe)

    @pandas_udf("array<int>")
    def nearest_cells(vecs: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as _pd

        C = np.array(_centroids, dtype=np.float64)
        X = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)))
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = X @ C.T
        # argsort desc, stable → ties to lowest centroid index
        order = np.argsort(-sims, axis=1, kind="stable")[:, :_n_probe]
        return _pd.Series(list(order.astype("int32")))

    return emb.withColumn(out_col, nearest_cells(F.col(vec_col)))


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    corpus_cells: DataFrame | None = None,
    query_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their single nearest
    cell; each query probes its n_probe nearest cells; candidates pair via
    an equi-join on cell id (never a cartesian), exact cosine re-ranks.

    vs hyperplane LSH (ann_bucketed_topk): cells are LEARNED from the data,
    so clustered corpora get balanced partitions and higher recall at the
    same candidate budget. At 100 TB the cell column is a natural partition/
    cluster key for the stored index (write once, probe by partition
    pruning). Scoring rides the same bucket-local matmul re-rank as the LSH
    path (cell = bucket, single table) — no per-pair rows materialize.

    ``corpus_cells`` (the output of ``assign_ivf_cells(emb, centroids,
    n_probe=1)``) lets a caller that runs SEVERAL IVF-family paths under
    one quantizer share a single O(N·k·d) corpus assignment pass instead
    of paying it per path (llm_sim_recall runs three); ``query_cells``
    (``assign_ivf_cells(queries, centroids, n_probe=n_probe)``) is the
    query-side twin — same quantizer + same n_probe means every path's
    probe list is identical, so one pandas-UDF pass serves them all."""
    from pyspark.sql import Window

    if corpus_cells is None:
        corpus_cells = assign_ivf_cells(emb, centroids, vec_col=vec_col, n_probe=1)
    e = corpus_cells.select(
        F.col(id_col).alias("_eid"),
        F.col(vec_col).alias("_evec"),
        F.lit(0).alias("_t"),
        F.col("cell")[0].cast("long").alias("_b"),
    )
    if query_cells is None:
        query_cells = assign_ivf_cells(
            queries, centroids, vec_col=query_vec_col, n_probe=n_probe
        )
    q = query_cells.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qvec"),
        F.lit(0).alias("_t"),
        F.explode("cell").alias("_b"),
    ).withColumn("_b", F.col("_b").cast("long"))
    scored = _bucket_rerank(e, q, k=k, id_col="vec_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.dropDuplicates(["query_id", "vec_id"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def build_ivf_index(
    spark,
    emb: DataFrame,
    centroids: list[list[float]],
    sig: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: int = 16,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """Persist the IVF index as a table BUCKETED BY cell: the O(N) cell
    assignment (the expensive pandas-UDF matmul pass) runs once at WRITE
    time, and every subsequent probe joins candidates by cell with NO
    shuffle and NO re-assignment of the corpus — write-amortized ANN
    serving, the same economics as sinks/bucketed.py's co-located joins.
    At 100 TB the cell is the natural partition/bucket key; re-tag (sig)
    when the corpus or quantizer changes. ``corpus_cells`` shares a
    precomputed assignment pass (see ivf_topk)."""
    from ..sinks.bucketed import ensure_bucketed

    if corpus_cells is None:
        corpus_cells = assign_ivf_cells(emb, centroids, vec_col=vec_col, n_probe=1)
    assigned = corpus_cells.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.col("cell")[0].cast("long").alias("cell"),
    )
    return ensure_bucketed(
        spark, assigned, "ivf_index", "cell", n_buckets=n_buckets, sig=sig
    )


def append_to_ivf_index(
    spark,
    new_emb: DataFrame,
    centroids: list[list[float]],
    sig: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: int = 16,
) -> DataFrame:
    """Incremental IVF index maintenance: assign ONLY the new vectors to
    cells (O(new) matmul, the existing corpus is never touched) and append
    them to the persisted bucketed index under the same (quantizer) sig —
    each cell bucket gains one file group, co-located probes stay
    exchange-free, and the appended rows serve identically to a full
    rebuild (pytest-asserted). This is the missing half of write-amortized
    ANN serving: ingest without reindex. Re-tag (new sig) and rebuild only
    when the QUANTIZER changes — appended vectors assigned by a stale
    quantizer are exactly as approximate as FAISS's add-after-train."""
    from ..sinks.bucketed import append_bucketed

    assigned = assign_ivf_cells(
        new_emb, centroids, vec_col=vec_col, n_probe=1
    ).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.col("cell")[0].cast("long").alias("cell"),
    )
    return append_bucketed(
        spark, assigned, "ivf_index", "cell", n_buckets=n_buckets, sig=sig
    )


def ivf_topk_served(
    index_df: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    tombstones: DataFrame | None = None,
    query_cells: DataFrame | None = None,
) -> DataFrame:
    """Serve approximate top-k from a persisted IVF index (build_ivf_index):
    only the QUERY vectors are assigned at serve time (tiny); candidates
    come straight off the bucketed (cell, vec_id, embedding) table via the
    cell equi-join. Identical results to ivf_topk under the same quantizer
    — asserted in tests — at a serve cost independent of corpus assignment.

    ``tombstones`` (a (vec_id) DataFrame) completes the index CRUD story:
    DELETES are served without rewriting any bucket — deleted ids are
    anti-joined out of the candidate stream before scoring (broadcast; a
    tombstone set is tiny relative to the corpus), the same
    merge-on-read pattern as Delta/Iceberg deletion vectors. Physically
    remove them by rebuilding under a new sig once the tombstone set
    grows past a compaction threshold."""
    from pyspark.sql import Window

    if tombstones is not None:
        index_df = index_df.join(
            F.broadcast(tombstones.select("vec_id")), "vec_id", "left_anti"
        )
    e = index_df.select(
        F.col("vec_id").alias("_eid"),
        F.col("embedding").alias("_evec"),
        F.lit(0).alias("_t"),
        F.col("cell").alias("_b"),
    )
    if query_cells is None:
        query_cells = assign_ivf_cells(
            queries, centroids, vec_col=query_vec_col, n_probe=n_probe
        )
    q = query_cells.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qvec"),
        F.lit(0).alias("_t"),
        F.explode("cell").alias("_b"),
    ).withColumn("_b", F.col("_b").cast("long"))
    scored = _bucket_rerank(e, q, k=k, id_col="vec_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.dropDuplicates(["query_id", "vec_id"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
