"""Similarity search over the embeddings table (array<float>, dim=64) —
brute-force cosine top-k baseline + LSH/IVF scale paths (driver brief).

Scoring (round 4): three tiers, selected by SPARK_GRAFT_ANN_SCORER —

- ``kernel`` (default): broadcast-probe group kernels. The query matrix
  rides a SparkContext broadcast keyed by probe bucket (brute force =
  one bucket; IVF = cluster id; LSH = sign-bit bucket, with multi-probe
  fanning out the QUERY's key list only); the corpus crosses the Arrow
  pipe exactly ONCE via mapInPandas, each batch scores against its
  bucket's query matrix with one BLAS matmul, and per-batch top-k
  pruning returns only O(|queries| x k) rows to the JVM. No join, no
  shuffle before the final per-query rank window.
- ``pair``: the candidate join shapes of r3 but each pair scored by an
  Arrow-batch einsum (vecmath.pair_dot) instead of the interpreted
  fold. Ships both embeddings per pair — kept as the measured midpoint
  of the A/B (BENCH/ann_ab.json): fine at bucket-bounded candidate
  counts, transfer-bound on brute force at 100x.
- ``sql``: the r3 baseline — pure aggregate/zip_with Catalyst
  expressions. CodegenFallback, ~20-30 us/pair interpreted
  (BENCH/sf10.json: 516 s brute force at 200k vectors).

All tiers emit the identical final shape: RAW cosines rounded JVM-side
by F.round(x, 4) (the quantization that reconciles summation order with
the DuckDB oracle), ranked by a per-query (cosine DESC, cand_id ASC)
row_number window. Kernel-internal pruning keeps everything within
vecmath.KEEP_BAND of the per-slice k-th best RAW cosine — a guaranteed
superset of the final top-k because rounding is monotone on the same
raw values (proof note at vecmath.KEEP_BAND). Hyperplanes for LSH are
md5-derived literal constants shared verbatim with the SQL oracle
(catalog.py) so both engines compute the same buckets.

Scale notes: brute-force is the per-query-exact baseline (the query
side must fit in a broadcast — the same contract as r3's
F.broadcast(q); shard the query set externally if it doesn't). The LSH
and IVF paths meet candidates on a bucket key — in kernel mode via the
broadcast dict (zero corpus movement), in pair/sql mode via a bucket
equi-join — never a cross join."""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import vecmath


def _scorer() -> str:
    s = os.environ.get("SPARK_GRAFT_ANN_SCORER", "kernel").lower()
    return {"arrow": "kernel"}.get(s, s)  # pre-rename alias


def _use_sql() -> bool:
    return _scorer() == "sql"

DIM = 64
N_PLANES = 8


def _hexint(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def hyperplanes(n: int = N_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]."""
    return [
        [((_hexint(f"{p}:{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]
        for p in range(n)
    ]


DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
NORM = "sqrt(aggregate({a}, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _score_pairs(pairs: DataFrame) -> DataFrame:
    """(query_id, cand_id, cosine) from a candidate frame carrying
    qe/ce (+ qn/cn norms in arrow mode). One einsum per Arrow batch in
    the default scorer; the SQL fallback is the r3 per-pair expression."""
    if _use_sql():
        cos = F.expr(
            f"{DOT.format(a='qe', b='ce')} / ({NORM.format(a='qe')} * {NORM.format(a='ce')})"
        )
        return pairs.select("query_id", "cand_id", F.round(cos, 4).alias("cosine"))
    return pairs.select(
        "query_id", "cand_id", vecmath.cosine4("qe", "ce", "qn", "cn").alias("cosine")
    )


def _with_norm(df: DataFrame, vec: str, out: str) -> DataFrame:
    """Per-side L2 norm column (arrow mode only — the SQL baseline keeps
    its original per-pair norms so the A/B measures the shipped r3 shape)."""
    if _use_sql():
        return df
    return df.withColumn(out, vecmath.vec_norm(F.col(vec)))


# --- kernel-tier orchestration ---------------------------------------------


def _collect_query_matrix(
    emb: DataFrame, query_mod: int, with_label: bool = False
):
    """Driver-side query set: (qids, Q (m, dim) float64, qn, labels).
    The query side must fit in a broadcast — the identical contract the
    pair/sql tiers impose via F.broadcast(q) (shard queries externally if
    it doesn't). |queries| = |corpus| / query_mod by construction."""
    cols = ["vec_id", "embedding"] + (["label"] if with_label else [])
    pdf = (
        emb.filter(F.col("vec_id") % query_mod == 0)
        # a NULL/ragged query vector matches nothing in any tier (its SQL
        # cosine is NULL, which never passes a rank filter); dropping it
        # here keeps the driver-side np.stack from aborting on one bad row
        .filter(F.col("embedding").isNotNull() & (F.size("embedding") == DIM))
        .select(*cols)
        .toPandas()
    )
    qids = pdf["vec_id"].to_numpy().astype(np.int64)
    if len(pdf) == 0:
        Q = np.zeros((0, DIM), dtype=np.float64)
        qn = np.zeros((0,), dtype=np.float64)
    else:
        Q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
        qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    labels = pdf["label"].to_numpy().astype(np.int64) if with_label else None
    return qids, Q, qn, labels


def _probe_groups(qids, Q, qn, probes) -> dict:
    """Group queries by probed bucket: {key: (qids, Q, qn) submatrices}.
    probes is (m, p) int — the p bucket keys each query probes. A query
    appears once per probed key; candidates live in exactly one key, so
    no (query, cand) pair is ever scored twice."""
    by_key: dict[int, list[int]] = {}
    for j in range(len(qids)):
        for key in probes[j]:
            by_key.setdefault(int(key), []).append(j)
    return {
        key: (qids[idx], Q[idx], qn[idx])
        for key, idx in ((k, np.asarray(js)) for k, js in by_key.items())
    }


def _kernel_topk(emb: DataFrame, k: int, groups: dict, key_fn=None, corpus_extra=()) -> DataFrame:
    """Shared kernel-tier tail: ship the probe groups in the kernel
    closure (Spark TorrentBroadcasts the stage's task binary — one
    transfer per executor, reclaimed by the ContextCleaner; an explicit
    sc.broadcast would pin memory for the session since the lazy return
    gives no destroy point), stream the corpus through group_topk_kernel
    ONCE (no join, no pre-rank shuffle), round JVM-side, rank per query.
    Final plan tail (round + window) is identical to the pair/sql tiers,
    so the emitted schema and the (cosine DESC, cand_id ASC) tie rule
    are shared by all three."""
    from pyspark.sql import Window

    src = emb.select(F.col("vec_id").alias("cand_id"), "embedding", *corpus_extra)
    raw = src.mapInPandas(
        vecmath.group_topk_kernel(groups, k, key_fn),
        schema="query_id long, cand_id long, cos double",
    )
    scored = raw.select("query_id", "cand_id", F.round("cos", 4).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def brute_force_topk(spark: SparkSession, sf_dir: str, k: int = 5, query_mod: int = 100) -> DataFrame:
    """Exact cosine top-k: queries (vec_id % query_mod == 0) vs the corpus.
    The small query side is broadcast; rank ties pinned by neighbor id."""
    from pyspark.sql import Window

    emb = load_embeddings(spark, sf_dir)
    if _scorer() == "kernel":
        qids, Q, qn, _ = _collect_query_matrix(emb, query_mod)
        groups = {0: (qids, Q, qn)} if len(qids) else {}
        return _kernel_topk(emb, k, groups)
    q = _with_norm(
        emb.filter(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        ),
        "qe", "qn",
    )
    c = _with_norm(
        emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce")),
        "ce", "cn",
    )
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("cand_id"))
    scored = _score_pairs(pairs)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 8 sign bits -> bucket id; bucket histogram.
    At scale, ANN = equi-join on bucket instead of a cross join."""
    emb = load_embeddings(spark, sf_dir)
    return (
        emb.select(_bucket().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )


def ivf_topk(spark: SparkSession, sf_dir: str, k: int = 3, query_mod: int = 100) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse cluster (`label`) —
    the candidate join is an equi-join on the cluster id."""
    from pyspark.sql import Window

    emb = load_embeddings(spark, sf_dir)
    if _scorer() == "kernel":
        qids, Q, qn, labels = _collect_query_matrix(emb, query_mod, with_label=True)
        groups = _probe_groups(qids, Q, qn, labels[:, None]) if len(qids) else {}
        return _kernel_topk(
            emb, k, groups, key_fn=vecmath.column_key_fn("label"), corpus_extra=("label",)
        )
    q = _with_norm(
        emb.filter(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
            F.col("label").alias("ql"),
        ),
        "qe", "qn",
    )
    c = _with_norm(
        emb.select(
            F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
            F.col("label").alias("cl"),
        ),
        "ce", "cn",
    )
    pairs = F.broadcast(q).join(c, F.col("ql") == F.col("cl")).filter(F.col("query_id") != F.col("cand_id"))
    scored = _score_pairs(pairs)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def _sq_dist_expr(vec_col: str, centroid: list[float]) -> str:
    """Squared L2 distance of `vec_col` (array<float>) to a literal
    centroid, as a codegen-able SQL expression."""
    lit = "array(" + ",".join(f"CAST({v} AS DOUBLE)" for v in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {lit}, (x, y) -> (CAST(x AS DOUBLE) - y) "
        f"* (CAST(x AS DOUBLE) - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _dist_pairs(centroids: list[list[float]]):
    pairs = F.array(
        *[
            F.struct(F.expr(_sq_dist_expr("embedding", c)).alias("d"), F.lit(j).alias("j"))
            for j, c in enumerate(centroids)
        ]
    )
    return pairs


def _assign_col(centroids: list[list[float]]):
    """argmin cluster id via array_min over (distance, id) structs — ties
    pinned by cluster id, matching the oracle's (d, j) ordering."""
    return F.array_min(_dist_pairs(centroids))["j"]


def _probe_list_col(centroids: list[list[float]], nprobe: int):
    """The ``nprobe`` nearest cluster ids, nearest first. Struct
    array_sort orders by (d, j) — identical tie rule to ``_assign_col``
    (nprobe=1 probes exactly the assigned cluster). All k distances are
    computed either way; keeping top-n instead of the min is free."""
    return F.transform(
        F.slice(F.array_sort(_dist_pairs(centroids)), 1, nprobe), lambda x: x["j"]
    )


def _assign(cents: list[list[float]]):
    """Scorer-switched cluster assignment (same (d, j) tie rule in both:
    np.argmin takes the first minimum, array_min the lowest j)."""
    return _assign_col(cents) if _use_sql() else vecmath.assign_udf(cents)(F.col("embedding"))


def _probe_list(cents: list[list[float]], nprobe: int):
    """Scorer-switched probe list (stable argsort over d == (d, j) sort)."""
    if _use_sql():
        return _probe_list_col(cents, nprobe)
    return vecmath.probe_list_udf(cents, nprobe)(F.col("embedding"))


def kmeans_fit(emb: DataFrame, n_clusters: int = 8, iters: int = 2) -> list[list[float]]:
    """Deterministic Lloyd's k-means over the embedding column, the IVF
    coarse quantizer. Init = embeddings of the n_clusters smallest
    vec_ids; each iteration assigns via a codegen argmin expression and
    recomputes means with ONE posexplode aggregation (k x dim rows
    collected to the driver — the centroid table is tiny by construction,
    the corpus never leaves executors). Centroids are rounded to 6
    decimals each iteration: that is the cross-engine contract that makes
    the quantizer bit-reproducible in the DuckDB oracle. Round-5
    hardening: the per-(cluster, dim) mean itself is an order-free
    fixed-point sum — each component quantizes to pico-unit BIGINT
    (ROUND(v * 1e12)) before SUMming — because a double AVG is
    summation-order-dependent and a mean within ~1 ulp of the 6th-decimal
    boundary could round differently per partition layout and cascade
    through assignments (the sample_dsir_weights failure mode). 1e12
    scale holds |cluster| < ~9e6 vectors per int64 at unit-norm inputs;
    past that the BIGINT sum overflows, and under ANSI mode (the Spark 4
    default, which get_spark keeps) the fit raises ARITHMETIC_OVERFLOW
    rather than wrapping. A 100 TB fit would drop to 1e9 quantization
    (same contract, coarser unit) or per-dim DECIMAL sums."""
    # one shared validity gate for init AND every assignment pass: a
    # NULL/ragged vector would assign to a NULL cluster whose posexplode
    # rows still emit, and the driver-side new[cl] would TypeError on the
    # None key — one corrupt row must never kill the fit (row-local
    # degradation contract; see _mat_masked). The corpus dim is not
    # assumed (callers fit on arbitrary-dim fixtures): it is read from
    # the first non-empty vector by vec_id order, the same determinism
    # rule as the init seeding.
    emb = emb.filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    probe = emb.orderBy("vec_id").select(F.size("embedding").alias("d")).limit(1).collect()
    if not probe:
        return []
    emb = emb.filter(F.size("embedding") == probe[0]["d"])
    first = (
        emb.orderBy("vec_id")
        .limit(n_clusters)
        .select("vec_id", "embedding")
        .collect()
    )
    cents = [[round(float(x), 6) for x in r["embedding"]] for r in first]
    for _ in range(iters):
        assigned = emb.select(_assign(cents).alias("cl"), "embedding")
        means = (
            assigned.select("cl", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cl", "pos")
            .agg(
                (
                    F.sum(F.round(F.col("v").cast("double") * F.lit(1e12)).cast("long"))
                    / (F.count(F.lit(1)) * F.lit(1e12))
                ).alias("m")
            )
            .collect()
        )
        new = [list(c) for c in cents]  # clusters that lost all members keep position
        by_cl: dict[int, dict[int, float]] = {}
        for r in means:
            by_cl.setdefault(r["cl"], {})[r["pos"]] = r["m"]
        for cl, dims in by_cl.items():
            new[cl] = [round(dims[p], 6) for p in range(len(dims))]
        cents = new
    return cents


def ivf_kmeans_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    n_clusters: int = 8,
    iters: int = 2,
    query_mod: int = 100,
    nprobe: int = 1,
) -> DataFrame:
    """IVF with a LEARNED coarse quantizer (vs ivf_topk's pre-existing
    label): fit k-means, assign corpus + queries, probe the query's
    ``nprobe`` nearest clusters, exact cosine rank inside the probed
    shards. The candidate join is an equi-join on the learned cluster id
    — at 100 TB the quantizer fit runs on a sample and the assignment is
    one codegen-able map pass; no stage touches more than the probed
    shards. nprobe>1 recovers boundary-query recall (see
    tests/test_new_operators.py::test_ivf_nprobe2_recovers_boundary_recall)
    at a linear-in-nprobe
    candidate cost — still a bucket equi-join, never a cross join."""
    return ivf_kmeans_topk_df(
        load_embeddings(spark, sf_dir), k=k, n_clusters=n_clusters, iters=iters,
        query_mod=query_mod, nprobe=nprobe,
    )


def ivf_kmeans_topk_df(
    emb: DataFrame,
    k: int = 3,
    n_clusters: int = 8,
    iters: int = 2,
    query_mod: int = 100,
    nprobe: int = 1,
) -> DataFrame:
    """DataFrame-input form of ivf_kmeans_topk (fit + assign + probe).

    Queries explode into one row per probed cluster (a candidate lives in
    exactly one cluster, so (query_id, cand_id) pairs stay unique without
    a dedup pass); candidates keep their single argmin assignment."""
    from pyspark.sql import Window

    cents = kmeans_fit(emb, n_clusters=n_clusters, iters=iters)
    if _scorer() == "kernel":
        qids, Q, qn, _ = _collect_query_matrix(emb, query_mod)
        groups = (
            _probe_groups(qids, Q, qn, vecmath.probe_list_np(cents, Q, nprobe))
            if len(qids)
            else {}
        )
        return _kernel_topk(emb, k, groups, key_fn=vecmath.assign_key_fn(cents))
    asg = emb.select("vec_id", "embedding", _assign(cents).alias("cl"))
    q = _with_norm(
        emb.filter(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(_probe_list(cents, nprobe)).alias("ql"),
        ),
        "qe", "qn",
    )
    c = _with_norm(
        asg.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"), F.col("cl").alias("cl")),
        "ce", "cn",
    )
    pairs = F.broadcast(q).join(c, F.col("ql") == F.col("cl")).filter(
        F.col("query_id") != F.col("cand_id")
    )
    scored = _score_pairs(pairs)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def _bucket_expr(col: str = "embedding") -> F.Column:
    """The 8-sign-bit hyperplane bucket id as a column expression —
    shared by lsh_bucket_histogram and the multi-probe path."""
    bucket = None
    for p, plane in enumerate(hyperplanes()):
        lit = "array(" + ",".join(f"CAST({v} AS DOUBLE)" for v in plane) + ")"
        bit = (
            F.when(F.expr(DOT.format(a=col, b=lit)) > 0, F.lit(1 << p))
            .otherwise(F.lit(0))
        )
        bucket = bit if bucket is None else bucket + bit
    return bucket


def _bucket(col: str = "embedding") -> F.Column:
    """Scorer-switched bucket id — one (n,dim)@(dim,8) matmul per Arrow
    batch in arrow mode vs 8 interpreted folds per row in sql mode; the
    sign rule (dot > 0 => bit) is identical, and the oracle's own
    list_dot_product order already defines the cross-engine tolerance."""
    if _use_sql():
        return _bucket_expr(col)
    return vecmath.plane_bits_udf(hyperplanes())(F.col(col))


def lsh_multiprobe_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    query_mod: int = 100,
    probe_bits: int = N_PLANES,
) -> DataFrame:
    """Multi-probe hyperplane LSH top-k (Lv et al. 2007, public): each
    query probes its own bucket PLUS the probe_bits Hamming-1 neighbor
    buckets (flip one sign bit at a time) — the standard trick to recover
    recall lost to boundary queries without adding hash tables.
    probe_bits=0 degrades to exact-bucket LSH (the recall baseline the
    pytest compares against).

    Scale shape: the probe fan-out multiplies only the QUERY side
    (|queries| × (probe_bits+1) rows of (query_id, bucket)); candidates
    come from an equi-join on bucket against the corpus bucket column —
    never a cross join — and each (query, cand) pair arises at most once
    because a vector lives in exactly one bucket and the probe list is
    distinct. Ranking is a per-query row_number window (per-query state,
    no global sort); round-4 cosine + cand_id tiebreak is the
    cross-engine contract shared with the other ANN entries."""
    from pyspark.sql import Window

    emb = load_embeddings(spark, sf_dir)
    if _scorer() == "kernel":
        planes = hyperplanes()
        qids, Q, qn, _ = _collect_query_matrix(emb, query_mod)
        if len(qids):
            qb = vecmath.plane_bits_np(Q, planes)
            probes = np.stack(
                [qb] + [qb ^ (1 << p) for p in range(probe_bits)], axis=1
            )
            groups = _probe_groups(qids, Q, qn, probes)
        else:
            groups = {}
        return _kernel_topk(emb, k, groups, key_fn=vecmath.lsh_key_fn(planes))
    c = _with_norm(
        emb.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("ce"),
            _bucket().alias("bucket"),
        ),
        "ce", "cn",
    )
    qs = _with_norm(
        emb.filter(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            _bucket().alias("qb"),
        ),
        "qe", "qn",
    )
    probes = qs.select(
        "query_id",
        "qe",
        *([] if _use_sql() else ["qn"]),
        F.explode(
            F.array(F.col("qb"), *[F.expr(f"qb ^ {1 << p}") for p in range(probe_bits)])
        ).alias("bucket"),
    )
    scored = _score_pairs(
        probes.join(c, "bucket").filter(F.col("query_id") != F.col("cand_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
