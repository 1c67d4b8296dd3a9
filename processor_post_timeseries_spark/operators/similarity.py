"""Similarity search over an embedding column (``array<float>``).

* ``cosine_topk`` — exact brute-force top-k: query set × broadcast(corpus)
  with the dot product as JVM-side array expressions (``zip_with`` +
  ``aggregate`` fold — sequential, deterministic summation order). At
  100 TB the corpus side streams per task while the (small) query set is
  the broadcast; for corpus×corpus use the LSH variant.
* ``lsh_buckets`` / ``ann_lsh_topk`` — random-hyperplane LSH (Charikar'02
  sign sketch). Hyperplanes are deterministic pseudo-planes derived from
  md5 parity (portable to the DuckDB oracle). Buckets bound candidate
  scans: top-k is computed within bucket, trading recall for a
  corpus-size-independent probe cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a, b):
    """Deterministic (left-fold) double dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.sqrt(_dot(F.col("embedding"), F.col("embedding"))))


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Symmetric int8 quantization: (vec_id, scale, q) with
    ``q[i] = round_away_from_zero(127 · x[i] / scale)``,
    ``scale = max|x|`` per vector (zero vectors quantize to zeros,
    scale 0). 4× less storage/shuffle than float32 — the ANN scale path
    at 10⁹+ vectors — and cosine on ``q`` needs no dequantization (the
    per-vector scales cancel in the ratio). Arrow-batched kernel;
    rounding is the explicit away-from-zero form, which is exactly what
    Spark's/DuckDB's ROUND do, so the oracle replays bit-for-bit."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("scale", T.DoubleType(), False),
            T.StructField("q", T.ArrayType(T.IntegerType()), False),
        ]
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"vec_id": [], "scale": [], "q": []})
                continue
            dims = pdf["embedding"].map(len).to_numpy()
            if dims.size and (dims == dims[0]).all() and dims[0] > 0:
                # fixed-dim fast path (the real case): ONE np.stack per
                # Arrow batch, then fully vectorized scale + round —
                # no per-row Python loop (matches the GEMM kernels)
                X = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
                s = np.abs(X).max(axis=1)
                safe = np.where(s == 0.0, 1.0, s)
                Y = 127.0 * X / safe[:, None]
                # away-from-zero half rounding == SQL ROUND (numpy's
                # own round is half-even and would drift off-oracle)
                Q = (np.sign(Y) * np.floor(np.abs(Y) + 0.5)).astype(np.int32)
                Q[s == 0.0] = 0
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "scale": s, "q": list(Q)}
                )
                continue
            scales, qs = [], []
            for e in pdf["embedding"]:
                x = np.asarray(e, dtype=np.float64)
                s = float(np.abs(x).max()) if x.size else 0.0
                if s == 0.0:
                    q = np.zeros(x.size, np.int32)
                else:
                    y = 127.0 * x / s
                    q = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int32)
                scales.append(s)
                qs.append(q)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "scale": scales, "q": qs}
            )

    return emb.select("vec_id", "embedding").mapInPandas(kern, schema=schema)


def dequantize_embeddings(qdf: DataFrame) -> DataFrame:
    """Inverse map: (vec_id, embedding array<double>) with
    ``x̂[i] = q[i] · scale / 127``; max abs error ≤ scale/254 per
    coordinate. Pure JVM array expression."""
    return qdf.select(
        "vec_id",
        F.transform(
            "q", lambda v: v.cast("double") * F.col("scale") / F.lit(127.0)
        ).alias("embedding"),
    )


def cosine_topk_q8(emb: DataFrame, k: int = 5, n_queries: int = 20) -> DataFrame:
    """``cosine_topk`` on int8-quantized vectors: (query_id, neighbor_id,
    rank, cos_sim_q8). The scales cancel, so similarity is the pure
    integer-dot ratio ``dot(qa,qb)/(|qa|·|qb|)`` — exact integer
    arithmetic inside, one double division + round(6) at the end, which
    is why the quantized variant cross-checks bit-exactly against the
    DuckDB oracle. Zero-norm vectors get similarity 0. Same shape as the
    float path: broadcast bounded query side, corpus streams."""
    q8 = quantize_embeddings(emb).withColumn(
        "qnorm", F.sqrt(_dot(F.col("q"), F.col("q")))
    )
    corpus = q8.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("q_n"),
        F.col("qnorm").alias("norm_n"),
    )
    queries = q8.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("q_q"),
        F.col("qnorm").alias("norm_q"),
    )
    sims = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim_q8",
            F.coalesce(
                F.round(
                    _dot(F.col("q_q"), F.col("q_n"))
                    / F.nullif(F.col("norm_q") * F.col("norm_n"), F.lit(0.0)),
                    6,
                ),
                F.lit(0.0),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_q8"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim_q8")
    )


def cosine_topk(emb: DataFrame, k: int = 5, n_queries: int = 20) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` ids:
    (query_id, neighbor_id, rank, cos_sim). Deterministic: sim rounded
    to 6 dp, ties broken by neighbor id."""
    corpus = with_norm(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_n"),
        F.col("norm").alias("norm_n"),
    )
    queries = (
        with_norm(emb)
        .filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("v_q"),
            F.col("norm").alias("norm_q"),
        )
    )
    sims = (
        F.broadcast(queries)
        .join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("v_q"), F.col("v_n")) / (F.col("norm_q") * F.col("norm_n")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def cosine_topk_np(emb: DataFrame, k: int = 5, n_queries: int = 20) -> DataFrame:
    """Same semantics as ``cosine_topk`` (round-6 sims, id tie-break) but
    the dot products run as one numpy GEMM per Arrow batch: the query
    matrix ships to every task (broadcast — it's the small side), the
    corpus streams through ``mapInPandas``. This is the 100 TB shape:
    per-task cost is O(batch × queries × dim) at BLAS speed, no
    corpus-side shuffle; only the (queries × k)-bounded candidate rows
    shuffle into the final top-k window."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    qrows = (
        emb.filter(F.col("vec_id") < n_queries).select("vec_id", "embedding").collect()
    )
    if not qrows:
        return emb.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cos_sim double"
        )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qnorm = np.linalg.norm(Q, axis=1)
    bq_ids = emb.sparkSession.sparkContext.broadcast(q_ids)
    bq = emb.sparkSession.sparkContext.broadcast((Q, qnorm))

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), False),
        ]
    )

    def sims(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        (Qm, qn), qi = bq.value, bq_ids.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            vn = np.linalg.norm(V, axis=1)
            # dot / (|q| * |v|) — same op shape as the SQL oracle
            S = np.round((Qm @ V.T) / np.outer(qn, vn), 6)  # (n_queries, batch)
            nid = pdf["vec_id"].to_numpy(np.int64)
            nq, nb = S.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qi, nb),
                    "neighbor_id": np.tile(nid, nq),
                    "cos_sim": S.reshape(-1),
                }
            )

    pairs = emb.select("vec_id", "embedding").mapInPandas(sims, schema=schema).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def lsh_buckets(emb: DataFrame, n_planes: int = 8) -> DataFrame:
    """Sign-sketch bucket per vector: (vec_id, bucket) with bucket =
    sum over planes of bit_p * 2^p, bit_p = [dot(plane_p, v) > 0].

    The md5-parity pseudo-planes are deterministic in (plane, dim-index)
    only, so they are hashed ONCE on the driver and shipped as literal
    ±1 arrays — the previous expression form recomputed an md5 per
    (row × dim × plane) in the JVM (O(n·d·p) hashes of constants).
    Assumes a fixed-dimension embedding column (true of any real corpus;
    the dim is probed from the first row)."""
    import hashlib

    first = emb.select(F.size(F.col("embedding"))).first()
    dim = int(first[0]) if first is not None else 0
    out = emb.select("vec_id", "embedding")
    bucket = F.lit(0)
    for p in range(n_planes):
        signs = [
            1.0
            if hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0] in "01234567"
            else -1.0
            for i in range(dim)
        ]
        plane = F.array(*[F.lit(s) for s in signs]) if dim else F.array().cast("array<double>")
        proj = F.aggregate(
            F.zip_with(F.col("embedding"), plane, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
    # a vector whose dim differs from the probed one would NULL-poison
    # its projections and silently collapse into bucket 0 (re-creating
    # the hot bucket this module exists to avoid) — raise loudly instead
    bucket = F.when(F.size(F.col("embedding")) == dim, bucket).otherwise(
        F.raise_error(
            F.lit(f"lsh_buckets: embedding dim differs from probed dim {dim}")
        ).cast("int")
    )
    return out.withColumn("bucket", bucket.cast("int")).select("vec_id", "bucket")


def ann_lsh_topk(emb: DataFrame, k: int = 5, n_planes: int = 8) -> DataFrame:
    """Approximate top-k: exact cosine ranking *within* LSH bucket.
    Bucket occupancy is capped at 10,000 before the self-join (skew
    guard: a degenerate corpus of near-identical vectors lands in one
    sign-sketch bucket and the join goes quadratic)."""
    from .dedup import _cap_bucket_size

    b = lsh_buckets(emb, n_planes)
    b = _cap_bucket_size(b, ["bucket"], "vec_id", 10_000)
    v = with_norm(emb).join(b, "vec_id")
    a = v.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("v_q"),
        F.col("norm").alias("norm_q"),
        "bucket",
    )
    c = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_n"),
        F.col("norm").alias("norm_n"),
        "bucket",
    )
    sims = (
        a.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("v_q"), F.col("v_n")) / (F.col("norm_q") * F.col("norm_n")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# ----------------------------------------------------------------- IVF ANN


def ivf_build(emb: DataFrame, k: int = 16):
    """Deterministic IVF coarse quantizer: k centroids via 3 Lloyd iterations.

    * Seeds: the k vectors with the smallest ``(md5(id), id)`` sort key —
      a deterministic pseudo-random spread that is a distributed top-k
      (TakeOrdered, no global sort), robust to sparse / non-zero-based
      ids, and replayable by the DuckDB oracle (md5 is md5).
    * Centroid update: each task emits ONE ``(cluster_id, vec_sum, n)``
      partial per Arrow batch — at most k × n_batches tiny rows ever
      leave the executors, never member vectors (the r1 collect_list
      update was the engine's one OOM-at-scale path).
    * Centroids are quantized (rounded to 6 decimals) after
      every update: the codebook is exactly representable, so an
      independent engine replaying Lloyd from the same data converges to
      bit-identical centroids (float sum-order drift ≪ the quantum).

    Returns a list of (cluster_id, centroid ndarray) — the coarse index
    is tiny by construction and ships as a broadcast, like a real IVF
    codebook. Training cost: 3 distributed assign+partial-sum passes.
    """
    import numpy as np

    seeds = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("ivf_build: input has no vectors")
    C = np.round(np.stack([np.asarray(r[1], np.float64) for r in seeds]), 6)
    kk, dim = C.shape

    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    partial_schema = T.StructType(
        [
            T.StructField("cluster_id", T.IntegerType(), False),
            T.StructField("vsum", T.ArrayType(T.DoubleType()), False),
            T.StructField("n", T.LongType(), False),
        ]
    )

    for _ in range(3):
        bc = emb.sparkSession.sparkContext.broadcast(C)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            Cm = bc.value
            cn2 = (Cm * Cm).sum(1)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
                a = (cn2[None, :] - 2.0 * (V @ Cm.T)).argmin(1)
                sums = np.zeros((kk, dim))
                np.add.at(sums, a, V)
                cnt = np.bincount(a, minlength=kk)
                nz = np.flatnonzero(cnt)
                yield pd.DataFrame(
                    {
                        "cluster_id": nz.astype(np.int32),
                        "vsum": [sums[i] for i in nz],
                        "n": cnt[nz].astype(np.int64),
                    }
                )

        rows = emb.select("embedding").mapInPandas(partials, schema=partial_schema).collect()
        S = np.zeros((kk, dim))
        N = np.zeros(kk, np.int64)
        for r in rows:
            S[r["cluster_id"]] += np.asarray(r["vsum"], np.float64)
            N[r["cluster_id"]] += r["n"]
        nzc = N > 0
        C = C.copy()
        C[nzc] = np.round(S[nzc] / N[nzc, None], 6)
    return [(i, C[i]) for i in range(kk)]


def _ivf_assign_df(emb: DataFrame, C) -> DataFrame:
    """Nearest-centroid assignment, one GEMM per Arrow batch."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bc = emb.sparkSession.sparkContext.broadcast(np.asarray(C, np.float64))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
            T.StructField("cluster_id", T.IntegerType(), False),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cm = bc.value
        cn2 = (Cm * Cm).sum(1)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
            d2 = cn2[None, :] - 2.0 * (V @ Cm.T)  # ||v||^2 constant per row
            pdf = pdf[["vec_id", "embedding"]].copy()
            pdf["cluster_id"] = d2.argmin(1).astype(np.int32)
            yield pdf

    return emb.select("vec_id", "embedding").mapInPandas(assign, schema=schema)


def ann_ivf_topk(emb: DataFrame, k: int = 5, n_clusters: int = 16, nprobe: int = 2) -> DataFrame:
    """IVF-ANN: exact cosine rank over the union of each query's nprobe
    nearest clusters. Probe cost ~ nprobe/n_clusters of the corpus."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    C = ivf_build(emb, n_clusters)
    Cm = np.stack([c for _i, c in C])
    assigned = _ivf_assign_df(emb, Cm)

    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    bc = emb.sparkSession.sparkContext.broadcast(Cm)
    probe_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("cluster_id", T.IntegerType(), False),
        ]
    )

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cm_ = bc.value
        cn2 = (Cm_ * Cm_).sum(1)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
            d2 = cn2[None, :] - 2.0 * (V @ Cm_.T)
            # stable sort: ties fall to the lower cluster_id, matching the
            # oracle's ORDER BY (d2, cluster_id)
            near = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
            ids = pdf["vec_id"].to_numpy(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, nprobe),
                    "cluster_id": near.reshape(-1).astype(np.int32),
                }
            )

    qprobes = emb.select("vec_id", "embedding").mapInPandas(probes, schema=probe_schema)
    qside = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("v_q")
    ).join(qprobes.withColumnRenamed("vec_id", "query_id"), "query_id")
    cside = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v_n")
    ).join(assigned.select(F.col("vec_id").alias("neighbor_id"), "cluster_id"), "neighbor_id")

    # per-cluster GEMM scoring with LOSSLESS per-cluster top-k pruning:
    # the global top-k over a query's probed clusters is contained in the
    # union of its per-cluster top-k's (same (cos desc, id asc) order), so
    # only nprobe*k candidate rows per query ever leave the cogroup — the
    # naive expression-join alternative materializes |cluster| rows per
    # probe (a ~100x larger shuffle + distinct at sf0.1, measured 9s vs
    # ~2s for this plan).
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), False),
        ]
    )

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import pandas as _pd

        if not len(left) or not len(right):
            return _pd.DataFrame({f.name: [] for f in out_schema.fields})
        Q = np.stack([np.asarray(v, np.float64) for v in left["v_q"]])
        C = np.stack([np.asarray(v, np.float64) for v in right["v_n"]])
        qid = left["query_id"].to_numpy(np.int64)
        nid = right["neighbor_id"].to_numpy(np.int64)
        # same formula as the SQL oracle: round(dot/(|q||n|), 6)
        S = np.round(
            (Q @ C.T)
            / np.outer(np.linalg.norm(Q, axis=1), np.linalg.norm(C, axis=1)),
            6,
        )
        S[qid[:, None] == nid[None, :]] = -np.inf  # self-pairs
        kk = min(k, S.shape[1])
        qs, ns, cs = [], [], []
        for i in range(S.shape[0]):
            order = np.lexsort((nid, -S[i]))[:kk]  # cos desc, id asc
            keep = order[np.isfinite(S[i][order])]
            qs.append(np.full(len(keep), qid[i]))
            ns.append(nid[keep])
            cs.append(S[i][keep])
        return _pd.DataFrame(
            {
                "query_id": np.concatenate(qs),
                "neighbor_id": np.concatenate(ns),
                "cos_sim": np.concatenate(cs),
            }
        )

    cand = (
        qside.groupBy("cluster_id")
        .cogroup(cside.groupBy("cluster_id"))
        .applyInPandas(lambda le, ri: score(le, ri), schema=out_schema)
        .distinct()  # a neighbor can appear via multiple probed clusters
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-group mean embedding: (group, dim, c) exploded — the
    SemDeDup-style cluster summary a curation pipeline uses for
    embedding-space filtering; groups are the ``label`` column. Rounded
    to 6 decimals so the value is
    an engine-portable contract (float sums are order-sensitive at the
    1e-15 level; rounding far above it makes every engine agree).

    Plan at 10^9 vectors: posexplode -> map-side-combined groupBy on
    (group, dim) — the shuffle carries |groups|·dim partial sums, not
    vectors. The mean uses the engine's oracle float rule: DECIMAL sum
    (exact, summation-order-independent — raw double sums differ at
    1e-15 across partial-agg orders) divided as DOUBLE, then round."""
    return (
        emb.select(F.col("label").alias("group"), F.posexplode("embedding").alias("dim", "x"))
        .groupBy("group", "dim")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("c"),
        )
    )


def centroid_outliers(emb: DataFrame) -> DataFrame:
    """Cosine of every vector to ITS OWN group's centroid:
    (vec_id, group, cos_centroid) — the outlier score for embedding-
    based quality filtering (drop the far tail of each cluster).
    Centroid components are the ``label_centroids`` rounded contract, so
    the score is deterministic end to end; zero-norm edges score 0.

    Plan: centroids (|groups|·dim rows) reassemble into arrays and
    broadcast; the corpus side is ONE narrow pass (no shuffle of
    vectors)."""
    cent = (
        label_centroids(emb)
        .groupBy("group")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("c")))
            ).alias("_dc")
        )
        .select(
            F.col("group").alias("label"),
            F.transform("_dc", lambda s: s["c"]).alias("_cent"),
        )
    )
    d = _dot(F.col("embedding"), F.col("_cent"))
    nv = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    nc = F.sqrt(_dot(F.col("_cent"), F.col("_cent")))
    return (
        emb.join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            F.col("label").alias("group"),
            F.round(
                F.when((nv > 0) & (nc > 0), d / (nv * nc)).otherwise(F.lit(0.0)),
                6,
            ).alias("cos_centroid"),
        )
    )
