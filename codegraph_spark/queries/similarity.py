"""Similarity search over the embeddings table (north-star §M7):
brute-force cosine top-k as the correctness baseline, and an IVF-style
bucketed variant (per-label centroids → probe nearest bucket) as the
scale path — at 100 TB the bucket assignment bounds the candidate set,
turning O(Q×N) into O(Q×N/buckets)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codegraph_spark.sources.tables import load_table


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine over array<double> columns — pure built-in higher-order
    functions, JVM-side (no UDF)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


#: the ONE planted-duplicate rule for synthetic-corpus dedup gates
#: (dedup_simhash*, dedup_embedding_cosine, dedup_semantic): every
#: CLONE_EVERY-th row cloned under id + CLONE_OFFSET. Shared so the
#: "same deterministic planted duplicates" coupling the docstrings
#: promise cannot drift between operators; the SQL oracles interpolate
#: the same constants.
CLONE_EVERY = 40
CLONE_OFFSET = 1_000_000


def plant_clones(df: DataFrame, id_col: str) -> DataFrame:
    """``df`` plus a deterministic clone of every CLONE_EVERY-th row
    (by ``id_col``), the clone keeping every other column verbatim."""
    clones = df.filter(F.col(id_col) % CLONE_EVERY == 0).select(
        *[
            (F.col(c) + CLONE_OFFSET).alias(c) if c == id_col else F.col(c)
            for c in df.columns
        ]
    )
    return df.unionByName(clones)


# --- brute force: exact top-k for a small query set ---------------------------
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors for query vectors (vec_id < 3) against the
    full corpus. The query side is tiny → broadcast it; the corpus scan
    is one pass, no shuffle."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("v")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", F.col("vec_id").alias("neighbor_id"),
                (F.floor(F.col("cos") * 10000) / 10000).alias("cosine"), "rn")
    )


_BRUTE_SQL = """
SELECT q_id, neighbor_id, floor(cos * 10000) / 10000 AS cosine, rn
FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
           CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS INT) AS rn
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 3
) WHERE rn <= 5
"""


# --- IVF-style: probe only the nearest bucket ---------------------------------
def sim_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the label column as the (given) coarse quantizer:
    centroids = per-label mean vector; each query probes only its
    nearest centroid's bucket. Structure matches a trained IVF index;
    here the cluster assignment is the label so the oracle can mirror
    it."""
    emb = _emb(spark, sf_dir)
    dims = emb.select("label", F.posexplode(F.col("v")).alias("dim", "x"))
    centroids = (
        dims.groupBy("label", "dim").agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("pairs"))
        .select("label", F.transform(F.col("pairs"), lambda p: p.m).alias("cv"))
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    # assign each query to its nearest centroid (tiny × tiny: broadcast)
    qc = (
        q.join(F.broadcast(centroids))
        .withColumn("cdist", cosine(F.col("qv"), F.col("cv")))
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("cdist"), "label")
    assigned = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("q_id", "qv", F.col("label").alias("probe_label"))
    )
    scored = (
        emb.join(F.broadcast(assigned),
                 (F.col("label") == F.col("probe_label")) & (F.col("vec_id") != F.col("q_id")))
        .withColumn("cos", cosine(F.col("qv"), F.col("v")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "probe_label", F.col("vec_id").alias("neighbor_id"),
                (F.floor(F.col("cos") * 10000) / 10000).alias("cosine"), "rn")
    )


_IVF_SQL = """
WITH centroids AS (
    SELECT label, list(m ORDER BY dim) AS cv
    FROM (
        SELECT label, dim, avg(x) AS m
        FROM (
            SELECT label,
                   generate_subscripts(embedding, 1) AS dim,
                   unnest(embedding::DOUBLE[]) AS x
            FROM embeddings
        )
        GROUP BY label, dim
    )
    GROUP BY label
),
assigned AS (
    SELECT q_id, probe_label FROM (
        SELECT q.vec_id AS q_id, c.label AS probe_label,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cv) DESC, c.label
               ) AS rn
        FROM embeddings q, centroids c
        WHERE q.vec_id < 3
    ) WHERE rn = 1
)
SELECT q_id, probe_label, neighbor_id, floor(cos * 10000) / 10000 AS cosine, rn
FROM (
    SELECT a.q_id, a.probe_label, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
           CAST(row_number() OVER (
               PARTITION BY a.q_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS INT) AS rn
    FROM assigned a
    JOIN embeddings q ON q.vec_id = a.q_id
    JOIN embeddings c ON c.label = a.probe_label AND c.vec_id <> a.q_id
) WHERE rn <= 5
"""


# --- IVF with a TRAINED coarse quantizer (k-means, Lloyd iterations) ----------
def _elementwise_mean(df: DataFrame, group_col: str, vec_col: str = "v") -> DataFrame:
    """Per-group mean vector via posexplode + (group, dim) average —
    the distributed centroid update (shuffle rows = n·d, key = (group,
    dim): perfectly partitionable at any scale)."""
    dims = df.select(group_col, F.posexplode(F.col(vec_col)).alias("dim", "x"))
    return (
        dims.groupBy(group_col, "dim").agg(F.avg("x").alias("m"))
        .groupBy(group_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("p"))
        .select(group_col, F.transform(F.col("p"), lambda s: s.m).alias("cv"))
    )


def train_ivf_kmeans(emb: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Coarse quantizer for IVF: k-means centroids ``(cluster, cv)``.

    - **Init** (deterministic farthest-point, the k-means++ idea minus
      randomness): seed 1 is the vector with the smallest md5-derived
      hash of ``vec_id`` (cross-engine computable, same construction as
      text.sample_stratified); each next seed is the vector whose best
      cosine to the chosen seeds is worst. Every step is a broadcast
      join + ``orderBy().limit(1)`` — TakeOrderedAndProject, a
      distributed per-partition top-k + driver merge, never a global
      sort. k passes over the corpus, at ingest time. (Plain hash-draw
      init can land two seeds in one natural cluster and Lloyd never
      recovers — observed on the planted-cluster test.)
    - **Lloyd rounds**: assign = one broadcast join against k centroids
      (corpus scanned in place, map-side argmax); update = the (cluster,
      dim) mean above. ``iters`` is small and fixed — IVF needs a coarse
      quantizer, not convergence (FAISS trains on a sample for the same
      reason).
    """
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    chosen = (
        emb.orderBy(h, "vec_id").limit(1)
        .select(F.lit(1).alias("cluster"), F.col("v").alias("cv"))
        .localCheckpoint(eager=False)
    )
    for i in range(2, k + 1):
        far = (
            emb.join(F.broadcast(chosen))
            .withColumn("sim", cosine(F.col("v"), F.col("cv")))
            .groupBy("vec_id")
            .agg(F.max("sim").alias("best"), F.first("v").alias("v"))
            .orderBy(F.asc("best"), "vec_id")
            .limit(1)
            .select(F.lit(i).alias("cluster"), F.col("v").alias("cv"))
        )
        chosen = chosen.unionByName(far).localCheckpoint(eager=False)
    centroids = chosen
    for _ in range(iters):
        assigned = assign_ivf(emb, centroids).select("cluster", "v")
        centroids = _elementwise_mean(assigned, "cluster", "v").localCheckpoint(eager=False)
    return centroids


def assign_ivf(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k centroids, argmax
    cosine per vector (map-side; ties broken by cluster id)."""
    scored = emb.join(F.broadcast(centroids)).withColumn(
        "sim", cosine(F.col("v"), F.col("cv"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cluster")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "sim", "cv")
    )


#: assignment policy thresholds (r7 VERDICT item 2 — the escalation is
#: now a DISPATCH RULE at the production seam, not a docstring hint).
#: Below _IVF_BNLJ_MAX_K centroids the JVM-side broadcast-join argmax
#: wins (no Python boundary at all); past it the Arrow flat-argmax
#: kernel carries the load while the k x d centroid matrix fits one
#: comfortable broadcast; past _IVF_TWO_LEVEL_CELLS matrix cells
#: (k·d doubles — 2^22 = 32 MB, ~65k centroids at d=64) the per-row
#: k dots themselves dominate and assignment escalates to the
#: two-level sqrt(k) multi-probe quantizer.
_IVF_BNLJ_MAX_K = 64
_IVF_TWO_LEVEL_CELLS = 1 << 22
_IVF_TWO_LEVEL_NPROBE = 8


def _assignment_strategy(
    k: int,
    d: int,
    bnlj_max_k: int = _IVF_BNLJ_MAX_K,
    two_level_cells: int = _IVF_TWO_LEVEL_CELLS,
) -> str:
    """'bnlj' | 'flat' | 'two_level' for k centroids of dimension d —
    the pure policy function, unit-testable without Spark."""
    if k <= bnlj_max_k:
        return "bnlj"
    if k * d <= two_level_cells:
        return "flat"
    return "two_level"


def assign_ivf_auto(
    emb: DataFrame,
    centroids: DataFrame,
    vec_col: str = "v",
    n_probe: int = _IVF_TWO_LEVEL_NPROBE,
    bnlj_max_k: int = _IVF_BNLJ_MAX_K,
    two_level_cells: int = _IVF_TWO_LEVEL_CELLS,
    k_hint: int | None = None,
    d_hint: int | None = None,
) -> DataFrame:
    """Policy dispatcher over the three assignment kernels (see
    :func:`_assignment_strategy`): callers — the trained inverted
    file, dedup_semantic's pipeline, any k-tracks-corpus-size
    deployment — get the right kernel for their k·d automatically
    instead of hand-picking one. All three kernels share the same
    semantics (argmax cosine, ties to the lowest cluster id), exact
    for 'bnlj'/'flat' and n_probe-approximate for 'two_level' (the
    documented recall/cost dial past the broadcast budget). The
    centroid count/dim probe costs two driver-local jobs on the
    (driver-created, k-row) centroid frame — callers that already know
    the exact centroid count / dimension (e.g. k derived from the
    corpus count that sized the bucketing) pass ``k_hint``/``d_hint``
    to skip those probe jobs (r12: two fewer actions per call; the
    dispatch decision is identical by construction)."""
    k = centroids.count() if k_hint is None else k_hint
    if k == 0:
        return assign_ivf_trained(emb, centroids, vec_col=vec_col)
    d = (
        len(centroids.select("cv").first()["cv"])
        if d_hint is None
        else d_hint
    )
    strat = _assignment_strategy(k, d, bnlj_max_k, two_level_cells)
    if strat == "bnlj" and vec_col == "v":  # JVM kernel is fixed to column 'v'
        return assign_ivf(emb, centroids)
    if strat == "two_level":
        return assign_ivf_two_level(emb, centroids, vec_col=vec_col, n_probe=n_probe)
    return assign_ivf_trained(emb, centroids, vec_col=vec_col)


def _trained_inverted_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time IVF build; assignment goes through the
    :func:`assign_ivf_auto` policy seam (at the gate's k=8 that
    resolves to the JVM broadcast-join kernel — same plan as before
    the seam existed). Training is ingest-time work (like the graph
    recast / trigram index), so the posting lists live in the serving
    store and queries probe them warm."""
    from codegraph_spark.serving import shared_df

    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        return assign_ivf_auto(emb, train_ivf_kmeans(emb, k=8, iters=2))

    return shared_df(spark, (sf_dir, "ivf", "inverted_file"), build, eager=False)


def sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with the TRAINED quantizer (train_ivf_kmeans): queries
    probe their nearest centroid's posting list only. This is the real
    IVF scale path (sim_ivf_label keeps the label-as-quantizer variant
    for the simple one-join shape). Training is deterministic (hash-
    seeded farthest-point init, fixed k and Lloyd rounds), so the whole
    pipeline unrolls into chained CTEs — _ivf_kmeans_sql generates the
    oracle: 7 argmin seeding steps, 2 assign+mean pairs, then the
    probe/top-5 tail. tests/test_similarity.py asserts planted-cluster
    recall against the brute-force baseline as defense-in-depth."""
    inv = _trained_inverted_file(spark, sf_dir)  # cluster → members
    q = inv.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("cluster").alias("probe"),
    )
    scored = (
        inv.join(
            F.broadcast(q),
            (F.col("cluster") == F.col("probe")) & (F.col("vec_id") != F.col("q_id")),
        )
        .withColumn("cos", cosine(F.col("qv"), F.col("v")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", F.col("cluster").alias("probe_cluster"),
                F.col("vec_id").alias("neighbor_id"),
                (F.floor(F.col("cos") * 10000) / 10000).alias("cosine"), "rn")
    )


# --- scale-true trainer: bounded sample + chunked Lloyd (the k~50k path) ------
#: FAISS's max_points_per_centroid default — past 256 points per
#: centroid the extra sample stops improving a coarse quantizer.
_IVF_SAMPLE_PER_CENTROID = 256
#: absolute driver-side sample ceiling (rows). 2^18 x 64 dims x 8 B =
#: 134 MB of training matrix — bounded regardless of k or corpus size.
_IVF_SAMPLE_CAP = 1 << 18
#: flop budget for farthest-point init on the sample (k * sample * dim).
#: Under it, the high-quality O(k·sample·dim) seeding runs; over it
#: (k ~ 50k), hash-strided picks from the shuffled sample (the FAISS
#: random-init practice) keep init O(sample).
_IVF_FP_INIT_BUDGET = 1 << 33
#: score-matrix cell budget per matmul chunk (bounds peak memory of the
#: n x k distance block at ~256 MB of float64).
_IVF_SCORE_CELLS = 1 << 25


def _hash_order(col: Column) -> Column:
    """md5-derived deterministic shuffle key (same construction as the
    exact trainer's seed draw and text.sample_stratified)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("bigint")


def _lloyd_on_sample(X, k: int, iters: int):
    """Driver-side spherical Lloyd on the bounded sample matrix ``X``
    (n x d float64): cosine assignment (argmax over normalized rows,
    ties -> lowest cluster index), plain elementwise-mean update (the
    same update :func:`_elementwise_mean` computes distributedly), and
    FAISS-style deterministic empty-cluster repair (epsilon-split the
    largest cluster). All numpy matmuls are chunked so no intermediate
    exceeds _IVF_SCORE_CELLS cells. Fully deterministic: no RNG — the
    caller feeds rows in md5-hash order and init derives from that
    order alone."""
    import numpy as np

    n, d = X.shape
    k = max(1, min(k, n))
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    Xn = X / norms[:, None]
    if k * n * d <= _IVF_FP_INIT_BUDGET:
        # farthest-point on the sample: one O(n·d) pass per seed with a
        # running best-similarity array — the quality init, affordable
        # whenever k·n·d fits the budget (covers k into the thousands).
        seeds = [0]
        best = Xn @ Xn[0]
        for _ in range(1, k):
            j = int(np.argmin(best))
            seeds.append(j)
            best = np.maximum(best, Xn @ Xn[j])
        C = X[np.asarray(seeds)].copy()
    else:
        # hash-strided picks over the md5-shuffled sample = a uniform
        # deterministic draw (FAISS's random-subset init, derandomized).
        C = X[(np.arange(k, dtype=np.int64) * n) // k].copy()
    chunk = max(256, _IVF_SCORE_CELLS // k)
    for _ in range(max(0, iters)):
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0] = 1.0
        CnT = (C / cn[:, None]).T
        assign = np.empty(n, dtype=np.int64)
        for lo in range(0, n, chunk):
            assign[lo : lo + chunk] = np.argmax(Xn[lo : lo + chunk] @ CnT, axis=1)
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros((k, d))
        np.add.at(sums, assign, X)
        live = counts > 0
        C[live] = sums[live] / counts[live, None]
        for ci in np.flatnonzero(~live):
            big = int(np.argmax(counts))
            C[ci] = C[big] * (1.0 + 1e-4)
            C[big] = C[big] * (1.0 - 1e-4)
            counts[ci] = counts[big] // 2
            counts[big] -= counts[ci]
    return C


def train_ivf_kmeans_sampled(
    emb: DataFrame,
    k: int,
    iters: int = 8,
    sample_per_centroid: int | None = None,
    sample_cap: int | None = None,
) -> DataFrame:
    """Scale-true coarse-quantizer training: centroids ``(cluster, cv)``
    learned from a BOUNDED deterministic sample, in O(1) Spark jobs.

    :func:`train_ivf_kmeans` (the k=8 oracle-gate trainer, kept
    unchanged) initializes by farthest-point over the FULL corpus —
    k-1 sequential corpus passes, unrunnable at the k ≈ n/occupancy
    its consumers' linearity contract requires (SemDeDup trains ~50k
    clusters). This trainer is that contract's production path, the
    FAISS practice the gate trainer's docstring cites:

    - **Sample**: the min(256·k, 2^18) rows with the smallest
      md5(vec_id) — one distributed TakeOrdered, the only corpus pass
      and the only Spark job in training (the planted-recovery and
      job-count tests in tests/test_similarity.py pin both).
    - **Init + Lloyd**: driver-side on the sample matrix
      (:func:`_lloyd_on_sample`) — farthest-point seeding under a flop
      budget, hash-strided picks past it; chunked-matmul spherical
      Lloyd with deterministic empty-cluster splits. At the cap the
      matrix is 134 MB; every matmul chunk is bounded.
    - **Assignment** of the full corpus is the consumer's single
      distributed pass: :func:`assign_ivf` (BNLJ explode) below
      k ≈ 64, :func:`assign_ivf_trained` (Arrow-batched argmax kernel)
      at any k.

    Returns the same ``(cluster, cv)`` frame as the gate trainer,
    cluster ids 1..k in seed order. Deterministic end-to-end."""
    import numpy as np

    if sample_per_centroid is None:
        sample_per_centroid = _IVF_SAMPLE_PER_CENTROID
    if sample_cap is None:
        sample_cap = _IVF_SAMPLE_CAP
    n_sample = max(int(k) * int(sample_per_centroid), 1)
    n_sample = min(n_sample, int(sample_cap))
    rows = (
        emb.orderBy(_hash_order(F.col("vec_id")), "vec_id")
        .limit(n_sample)
        .select("v")
        .collect()
    )
    spark = emb.sparkSession
    if not rows:  # empty corpus: no centroids (assignment is a no-op)
        return spark.createDataFrame([], "cluster INT, cv ARRAY<DOUBLE>")
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    C = _lloyd_on_sample(X, k, iters)
    return spark.createDataFrame(
        [(i + 1, [float(x) for x in row]) for i, row in enumerate(C)],
        "cluster INT, cv ARRAY<DOUBLE>",
    )


def assign_ivf_trained(emb: DataFrame, centroids: DataFrame, vec_col: str = "v") -> DataFrame:
    """Nearest-centroid assignment for LARGE k: ship the k x d centroid
    matrix once (Spark broadcast, ~25 MB at k=50k, d=64) and argmax
    cosine per row inside an Arrow-batched numpy kernel — one matmul
    per batch instead of :func:`assign_ivf`'s n·k-row BNLJ explode,
    which is right below k ≈ 64 and catastrophic at k=50k. Ties break
    to the lowest cluster id (np.argmax takes the first maximum over
    ascending-cluster rows — the same order assign_ivf's window uses);
    zero-norm vectors score 0 everywhere and land in the lowest
    cluster, matching no-signal semantics deterministically. Should
    k·dim outgrow the broadcast/dot budget
    (:data:`_IVF_TWO_LEVEL_CELLS`), :func:`assign_ivf_auto` escalates
    to :func:`assign_ivf_two_level` (a √k outer quantizer with
    multi-probe) AUTOMATICALLY — production callers go through that
    policy seam rather than picking a kernel by hand. Output schema =
    input + cluster (same as assign_ivf)."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(list(emb.schema.fields) + [StructField("cluster", IntegerType())])
    crows = centroids.orderBy("cluster").collect()
    if not crows:  # no centroids (empty training corpus): nothing assignable
        return emb.sparkSession.createDataFrame([], out_schema)
    ids = np.asarray([r["cluster"] for r in crows], dtype=np.int64)
    C = np.asarray([r["cv"] for r in crows], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    CnT = (C / cn[:, None]).T
    bc = emb.sparkSession.sparkContext.broadcast((ids, CnT))
    k = len(ids)
    chunk = max(64, _IVF_SCORE_CELLS // max(k, 1))

    def kernel(batches):
        b_ids, b_CnT = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                pdf["cluster"] = np.empty(0, dtype=np.int32)
                yield pdf
                continue
            V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            nrm = np.linalg.norm(V, axis=1)
            nrm[nrm == 0] = 1.0
            Vn = V / nrm[:, None]
            a = np.empty(len(V), dtype=np.int64)
            for lo in range(0, len(V), chunk):
                a[lo : lo + chunk] = np.argmax(Vn[lo : lo + chunk] @ b_CnT, axis=1)
            pdf["cluster"] = b_ids[a].astype(np.int32)
            yield pdf

    return emb.mapInPandas(kernel, out_schema)


def assign_ivf_two_level(
    emb: DataFrame,
    centroids: DataFrame,
    vec_col: str = "v",
    n_probe: int = 4,
    outer_k: int | None = None,
) -> DataFrame:
    """The documented escalation past one-broadcast assignment
    (:func:`assign_ivf_trained`'s k·d ≲ broadcast budget): quantize
    the CENTROIDS themselves with a ⌈√k⌉-cell outer quantizer
    (driver-side :func:`_lloyd_on_sample` over the k×d centroid
    matrix) and score each row against only the centroids of its
    ``n_probe`` best outer cells — ~(√k + n_probe·k/√k) dots per row
    instead of k, the FAISS IVF-in-IVF / IMI shape. APPROXIMATE by
    construction (the true nearest centroid can live outside the
    probed cells); n_probe is the recall/cost dial and n_probe =
    outer_k degenerates to the exact single-level argmax.
    tests/test_round7_ops.py pins: exact agreement on separated
    corpora at n_probe=4; exact agreement at exhaustive probing on an
    ISOTROPIC corpus (coarse quantization's worst case — outer cells
    carry no signal there; measured 86% at n_probe=4/8 cells, where a
    clustered corpus — IVF's operating premise — sits near 100%); and
    monotone agreement in n_probe. Ties break to the lowest cluster
    id at both levels, matching the single-level kernels."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(list(emb.schema.fields) + [StructField("cluster", IntegerType())])
    crows = centroids.orderBy("cluster").collect()
    if not crows:
        return emb.sparkSession.createDataFrame([], out_schema)
    ids = np.asarray([r["cluster"] for r in crows], dtype=np.int64)
    C = np.asarray([r["cv"] for r in crows], dtype=np.float64)
    k, _d = C.shape
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    Cn = C / cn[:, None]
    ok = outer_k or max(1, int(round(k ** 0.5)))
    n_probe = max(1, min(int(n_probe), ok))
    outer = _lloyd_on_sample(C.copy(), ok, iters=4)
    on = np.linalg.norm(outer, axis=1)
    on[on == 0] = 1.0
    OuterT = (outer / on[:, None]).T
    cell_of = np.argmax(Cn @ OuterT, axis=1)
    # per outer cell: the (centroid rows, cluster ids) block
    cells = []
    for c in range(ok):
        idx = np.flatnonzero(cell_of == c)
        cells.append((Cn[idx].T.copy(), ids[idx].copy()))
    bc = emb.sparkSession.sparkContext.broadcast((OuterT, cells))

    def kernel(batches):
        b_OuterT, b_cells = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                pdf["cluster"] = np.empty(0, dtype=np.int32)
                yield pdf
                continue
            V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            nrm = np.linalg.norm(V, axis=1)
            nrm[nrm == 0] = 1.0
            Vn = V / nrm[:, None]
            so = Vn @ b_OuterT  # n x outer_k
            # deterministic top-n_probe cells (score desc, cell asc)
            probe = np.argsort(-so, axis=1, kind="stable")[:, :n_probe]
            best_s = np.full(len(V), -np.inf)
            best_id = np.full(len(V), np.iinfo(np.int64).max, dtype=np.int64)
            for c in range(len(b_cells)):
                CT, cids = b_cells[c]
                if CT.shape[1] == 0:
                    continue
                rows = np.flatnonzero((probe == c).any(axis=1))
                if len(rows) == 0:
                    continue
                s = Vn[rows] @ CT  # |rows| x |cell|
                j = np.argmax(s, axis=1)  # first max = lowest id in cell order
                sc = s[np.arange(len(rows)), j]
                cand = cids[j]
                cur_s, cur_id = best_s[rows], best_id[rows]
                take = (sc > cur_s) | ((sc == cur_s) & (cand < cur_id))
                best_s[rows] = np.where(take, sc, cur_s)
                best_id[rows] = np.where(take, cand, cur_id)
            pdf["cluster"] = best_id.astype(np.int32)
            yield pdf

    return emb.mapInPandas(kernel, out_schema)


# planted-cluster gate corpus: pure integer arithmetic, so Spark and
# DuckDB synthesize IDENTICAL vectors (no engine hash involved).
# group(i) = i % _PLANT_G; member vector = basis(group) + jitter where
# jitter[t] = ((i*73 + t*151) % 97 - 48) / 1000 in [-0.048, 0.048] —
# groups sit on orthogonal axes, separation is macroscopic (~0.9 cosine
# gap), so argmax decisions are float-safe across engines.
_PLANT_N, _PLANT_D, _PLANT_G = 4096, 16, 16


def _planted_corpus(spark: SparkSession) -> DataFrame:
    return spark.range(_PLANT_N).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {_PLANT_D - 1}), t -> "
            f"(CASE WHEN t = CAST(id % {_PLANT_G} AS INT) THEN 1.0 ELSE 0.0 END) "
            f"+ ((id * 73 + t * 151) % 97 - 48) / 1000.0)"
        ).alias("v"),
    )


def sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine gate for the VECTORIZED assignment kernel
    (:func:`assign_ivf_trained`): assign the arithmetic planted corpus
    to the 16 known basis-vector centroids and aggregate per cluster.
    The corpus is synthesized from pure integer arithmetic (not the
    embeddings table) because the gate needs a geometric ground truth
    the random test embeddings lack; sf_dir is unused by design. Any
    per-vector misassignment by the Arrow kernel shifts sum_vec_ids
    and is caught by the DuckDB argmax oracle."""
    del sf_dir
    emb = _planted_corpus(spark)
    cents = spark.range(_PLANT_G).select(
        (F.col("id") + 1).cast("int").alias("cluster"),
        F.expr(
            f"transform(sequence(0, {_PLANT_D - 1}), "
            f"t -> CASE WHEN t = CAST(id AS INT) THEN 1.0 ELSE 0.0 END)"
        ).alias("cv"),
    )
    return (
        assign_ivf_trained(emb, cents)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("vec_id").alias("sum_vec_ids"),
        )
        .select("cluster", "n_members", "sum_vec_ids")
    )


_IVF_ASSIGN_SQL = f"""
WITH corpus AS (
    SELECT id AS vec_id,
           list_transform(range(0, {_PLANT_D}),
               t -> (CASE WHEN t = CAST(id % {_PLANT_G} AS BIGINT) THEN 1.0 ELSE 0.0 END)
                    + ((id * 73 + t * 151) % 97 - 48) / 1000.0) AS v
    FROM range({_PLANT_N}) t(id)
),
cents AS (
    SELECT CAST(id + 1 AS INT) AS cluster,
           list_transform(range(0, {_PLANT_D}),
               t -> CASE WHEN t = id THEN 1.0 ELSE 0.0 END) AS cv
    FROM range({_PLANT_G}) t(id)
),
assigned AS (
    SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cluster) AS rn
        FROM corpus e CROSS JOIN cents c
    ) WHERE rn = 1
)
SELECT cluster, count(*) AS n_members, CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids
FROM assigned GROUP BY cluster
"""


def sim_ivf_two_level_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine gate for the ESCALATED assignment kernel
    (:func:`assign_ivf_two_level`, the tier :func:`assign_ivf_auto`
    dispatches to past :data:`_IVF_TWO_LEVEL_CELLS`): the planted
    corpus against the 16 known basis centroids, forced through the
    two-level path (outer_k=4, n_probe=2 — a REAL subset probe, half
    the outer cells). On the orthogonal planted geometry the nearest
    centroid's outer cell is always the row's best-scoring cell
    (cos ≈ 1 to its own axis dominates any cross term), so the
    n_probe=2 subset provably contains the true argmax and the
    approximate kernel must EQUAL the exact assignment — which is what
    the same DuckDB flat-argmax oracle as sim_ivf_assign computes. A
    probe-routing or per-cell-argmax bug shifts sum_vec_ids and
    hash-mismatches. (sf_dir unused by design, like the other planted
    gates.)"""
    del sf_dir
    emb = _planted_corpus(spark)
    cents = spark.range(_PLANT_G).select(
        (F.col("id") + 1).cast("int").alias("cluster"),
        F.expr(
            f"transform(sequence(0, {_PLANT_D - 1}), "
            f"t -> CASE WHEN t = CAST(id AS INT) THEN 1.0 ELSE 0.0 END)"
        ).alias("cv"),
    )
    return (
        assign_ivf_two_level(emb, cents, n_probe=2, outer_k=4)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("vec_id").alias("sum_vec_ids"),
        )
        .select("cluster", "n_members", "sum_vec_ids")
    )


def sim_ivf_sampled_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end gate for the SAMPLED trainer: train
    :func:`train_ivf_kmeans_sampled` at k=16 on the planted 16-cluster
    corpus, assign with the vectorized kernel, and report per planted
    group (n_members, clusters_spanned, groups_in_cluster). Perfect
    recovery — each planted group maps onto exactly one learned
    cluster and shares it with no other group — has an
    engine-independent description (spanned = shared = 1, members =
    n/G), so the oracle pins the SPEC as literals while the Spark side
    measures: a degraded trainer (merged or split clusters) emits 2s
    and hash-mismatches. Recovery is deterministic: the md5-ordered
    sample covers the corpus (4096 < 2^18) and farthest-point seeding
    on orthogonal planted axes picks one seed per group, with a ~0.9
    cosine margin over any float noise."""
    del sf_dir
    emb = _planted_corpus(spark)
    cents = train_ivf_kmeans_sampled(emb, k=_PLANT_G, iters=4)
    assigned = assign_ivf_trained(emb, cents).select(
        "vec_id", "cluster", (F.col("vec_id") % _PLANT_G).cast("int").alias("grp")
    )
    per_cluster = assigned.groupBy("cluster").agg(
        F.countDistinct("grp").alias("groups_in_cluster")
    )
    return (
        assigned.join(per_cluster, "cluster")
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("cluster").alias("clusters_spanned"),
            F.max("groups_in_cluster").alias("groups_in_cluster"),
        )
        .select("grp", "n_members", "clusters_spanned", "groups_in_cluster")
    )


_IVF_PURITY_SQL = f"""
SELECT CAST(id % {_PLANT_G} AS INT) AS grp,
       count(*) AS n_members,
       CAST(1 AS BIGINT) AS clusters_spanned,
       CAST(1 AS BIGINT) AS groups_in_cluster
FROM range({_PLANT_N}) t(id)
GROUP BY 1
"""


# --- LSH: random-hyperplane bucketing (the 100 TB scale path) -----------------
_N_PLANES = 8


_MAX_DIM = 256

# corpus-adaptive plane count: hold expected bucket occupancy at
# ~_LSH_TARGET_OCCUPANCY rows so the per-bucket self-join output stays
# ~(occupancy/2)·n — LINEAR in n — instead of n²/2^planes with a fixed
# family. The ceiling is a documentation guard, not a scale knob: 64
# planes covers n up to 32·2^64, so planes track log2(n) UNBOUNDED at
# any physically reachable corpus (the r5 ceiling of 16 re-opened the
# quadratic past ~2M vectors — n²/2^16 candidate growth); the floor
# keeps the family non-degenerate on tiny corpora (≥4 planes).
_LSH_TARGET_OCCUPANCY = 32
_LSH_MIN_PLANES, _LSH_MAX_PLANES = 4, 64

#: OR-composed band count for the corpus-adaptive query: as planes
#: grow with log2(n) a SINGLE band's per-pair collision probability
#: p_coll = (1 - θ/π)^planes collapses, so recall at fixed similarity
#: would fall with corpus size. b independent bands (disjoint plane
#: slices of one signature, the MinHash banding shape from dedup.py)
#: restore recall 1-(1-p^r)^b while candidate volume stays b·(occ/2)·n
#: — still linear in n with a constant band count.
_LSH_BANDS = 4


def lsh_planes_for(n: int) -> int:
    """planes-per-band(n) = clamp(⌈log2(n / target_occupancy)⌉, 4, 64)
    — grows with log2(n) with no reachable ceiling, the scaling
    SCALE.md's 10x probe demands (a fixed 8-plane family measured
    ratio 6.3 at 10x data in r4; the r5 16-plane clamp went quadratic
    past ~2M vectors)."""
    import math

    raw = math.ceil(math.log2(max(n, 1) / _LSH_TARGET_OCCUPANCY))
    return max(_LSH_MIN_PLANES, min(_LSH_MAX_PLANES, raw))


def _w_int(j: int, d: int) -> int:
    """Deterministic pseudo-random hyperplane weight in [-3, 3],
    md5-derived so the family is APERIODIC in the plane index — any
    integer-polynomial-mod-7 scheme is periodic in j with period 7
    (all coefficients reduce mod 7), which silently makes plane 7 a
    duplicate of plane 0 and caps the effective bucket count. Computed
    DRIVER-SIDE once and embedded as literals (a per-row md5 over
    planes x dims cost ~15x the whole query)."""
    import hashlib

    return int(hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:6], 16) % 7 - 3


def _w_array(j: int, dims: int = _MAX_DIM) -> Column:
    return F.array(*[F.lit(_w_int(j, d)).cast("long") for d in range(dims)])


def _lsh_bucket_table(
    q: DataFrame, dim: int, n_planes: int, bands: int
) -> DataFrame:
    """(vec_id, q[, band], bucket): the signature/bucket assignment the
    candidate self-join runs over — factored out so tests and scale
    probes can histogram the REAL bucket table (Σ c·(c-1)/2 = exact
    per-band join output size) without materializing the pairs."""

    def _bit(j: int) -> Column:
        return (
            F.when(
                F.aggregate(
                    F.zip_with(
                        F.col("q"), _w_array(j, dim), lambda x, w: x * w
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
        )

    def _band_sig(b: int) -> Column:
        return F.concat(*[_bit(b * n_planes + s) for s in range(n_planes)])

    if bands == 1:
        return q.withColumn("bucket", _band_sig(0))
    return q.select(
        "vec_id",
        "q",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), _band_sig(b).alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "q", F.col("bb.band").alias("band"), "bb.bucket")


def _quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, q): embeddings quantized to milli-unit longs — the
    single quantization the whole LSH family (bucketing, histogram
    probe, recall audit) shares, so the probes certify the SAME
    projection production builds. Rows with NULL embeddings are
    dropped HERE, on both engines: Spark's per-bit F.when over a NULL
    aggregate would otherwise bucket NULL rows at the all-zeros
    signature while the oracle's unnest-based dots CTE silently
    excludes them — a cross-engine divergence on exactly the input
    the dim peek guards (round-6 review finding)."""
    return emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * 1000).cast("long"),
        ).alias("q"),
    )


def _peek_dim(emb: DataFrame) -> int:
    """Driver-side dimension peek, guarded for an empty table and a
    NULL embedding in the first row."""
    peek = (
        emb.filter(F.col("embedding").isNotNull())
        .select(F.size("embedding"))
        .first()
    )
    return peek[0] if peek is not None and peek[0] is not None else 1


def lsh_bucket_histogram_volume(
    emb: DataFrame, n_planes: int, bands: int = 1
) -> int:
    """Exact candidate volume of the (banded) LSH self-join — the
    across-band union BEFORE pair dedup, an upper bound on the deduped
    output — computed from the bucket histogram without materializing
    a single pair. The linearity probe for tests and SCALE.md."""
    q = _quantized(emb)
    t = _lsh_bucket_table(q, _peek_dim(emb), n_planes, bands)
    keys = ["band", "bucket"] if bands > 1 else ["bucket"]
    total = (
        t.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long"))
        .first()[0]
    )
    return int(total or 0)


def lsh_candidate_pairs(
    emb: DataFrame, n_planes: int = _N_PLANES, bands: int = 1
) -> DataFrame:
    """Sign-LSH candidate pairs with a PARAMETERIZED plane count — the
    knob that keeps the operator linear at scale: per-bucket occupancy
    is n / 2^planes, so planes must grow with log2(n) to hold the
    per-bucket join (and the candidate output, ~n²/2^planes) constant
    per row. With ``bands`` > 1 the signature is ``bands`` disjoint
    ``n_planes``-bit slices of one plane family (global plane index
    j = band·n_planes + slot), candidates are the OR-union of the
    per-band same-bucket joins deduped to one row per pair (min-band
    wins the reported (band, bucket)) — recall survives the log2(n)
    plane growth while volume stays ~bands·(occupancy/2)·n, linear.
    tests/test_similarity pins that raising planes shrinks candidates
    and that candidates/row stays flat as n grows 8x past the old
    16-plane ceiling. ``emb`` needs columns (vec_id, embedding).

    Output: single-band → (bucket, vec_a, vec_b, dot_milli2) — the r4
    gate shape; banded → (band, bucket, vec_a, vec_b, dot_milli2)."""
    q = _quantized(emb)
    # one driver-side peek sizes the literal weight arrays to the real
    # dimension (a 256-wide array + per-row slice costs ~4x the query)
    dim = _peek_dim(emb)
    if dim > _MAX_DIM:
        raise ValueError(f"embedding dim {dim} exceeds LSH family max {_MAX_DIM}")
    bucketed = _lsh_bucket_table(q, dim, n_planes, bands)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cond = (F.col("a.bucket") == F.col("b.bucket")) & (
        F.col("a.vec_id") < F.col("b.vec_id")
    )
    if bands > 1:
        cond = (F.col("a.band") == F.col("b.band")) & cond
    pairs = a.join(b, cond)
    dot_q = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    if bands == 1:
        return pairs.select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            dot_q.alias("dot_milli2"),
        )
    # OR-union across bands: dedup to one row per pair; the winning
    # (band, bucket) is the minimal colliding band — a total order, so
    # the dedup is deterministic and oracle-expressible (arg_min)
    return (
        pairs.select(
            F.col("a.band").alias("band"),
            F.col("a.bucket").alias("bucket"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            dot_q.alias("dot_milli2"),
        )
        .groupBy("vec_a", "vec_b")
        .agg(
            F.min("band").alias("band"),
            F.min_by("bucket", "band").alias("bucket"),
            # dot is identical on every colliding band's row; min() is
            # a deterministic way to say "any"
            F.min("dot_milli2").alias("dot_milli2"),
        )
        .select("band", "bucket", "vec_a", "vec_b", "dot_milli2")
    )


def sim_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: sign(v·w_j) over a CORPUS-SIZED plane
    family → OR-union of per-band same-bucket self-join candidates.
    Planes per band are derived from the live corpus count via
    :func:`lsh_planes_for` (⌈log2(n/32)⌉, no reachable ceiling) so
    per-bucket occupancy — and with it the candidate output,
    ~bands·16·n — stays linear in n at ANY corpus size: the r4 gate
    pinned 8 planes and SCALE.md measured the resulting 6.3x blowup at
    10x data; the r5 corpus-adaptive family still clamped at 16 planes
    and went quadratic past ~2M vectors (n²/2^16). Four OR-composed
    bands (disjoint slices of one signature — the MinHash banding
    shape, dedup.py) keep recall from collapsing as planes grow.
    The count() is one parquet-metadata job, paid once per invocation,
    never per row.

    Cross-engine exactness: embeddings are quantized to milli-units
    (round(x*1000) as long) before any arithmetic, so signatures and
    pair dot products are integer math — no float summation-order
    hazards between Spark and the oracle; the oracle derives the SAME
    plane count from the same count() inside SQL and the same
    (band, bucket) winner via arg_min.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.filter(F.col("embedding").isNotNull()).count()  # oracle counts FROM qv
    return lsh_candidate_pairs(emb, lsh_planes_for(n), bands=_LSH_BANDS)


# Oracle with the SAME corpus-adaptive plane count, computed in SQL
# (greatest/least/ceil/log2 mirror lsh_planes_for exactly), the same
# banded OR-union (global plane index j = band·np + slot; per-pair
# winner = arg_min over band), and weights derived per (plane, dim)
# from the same md5 family as _w_int — sized to the corpus's real
# dimension instead of a hard-coded 64 (ADVICE r4: a >64-dim corpus
# silently NULLed the out-of-range list indexes). The weight table is
# generated for the full bands x max-planes range and filtered to the
# live family, so it stays parameter-synced at any corpus size.
_LSH_SQL = f"""
WITH qv AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(round(x * 1000) AS BIGINT)) AS q
    FROM embeddings
    WHERE embedding IS NOT NULL
),
p AS (
    SELECT greatest({_LSH_MIN_PLANES}, least({_LSH_MAX_PLANES},
               CAST(ceil(log2(greatest(count(*), 1) / {_LSH_TARGET_OCCUPANCY}.0))
                    AS INT))) AS np
    FROM qv
),
w AS (
    SELECT j, i,
           CAST(('0x' || substr(md5(j || '_' || (i - 1)), 1, 6)) AS BIGINT) % 7 - 3
               AS wt
    FROM range(0, {_LSH_BANDS * _LSH_MAX_PLANES}) t(j)
    CROSS JOIN (
        SELECT unnest(range(1, (SELECT coalesce(max(len(q)), 1) FROM qv) + 1)) AS i
    )
),
qe AS (
    SELECT vec_id, generate_subscripts(q, 1) AS i, unnest(q) AS x FROM qv
),
dots AS (
    SELECT vec_id, j, sum(x * wt) AS dot
    FROM qe JOIN w USING (i)
    WHERE j < {_LSH_BANDS} * (SELECT np FROM p)
    GROUP BY vec_id, j
),
sig AS (
    SELECT d.vec_id,
           CAST(d.j // (SELECT np FROM p) AS INT) AS band,
           string_agg(CASE WHEN d.dot >= 0 THEN '1' ELSE '0' END, ''
                      ORDER BY d.j) AS bucket,
           any_value(qv.q) AS q
    FROM dots d JOIN qv ON qv.vec_id = d.vec_id
    GROUP BY d.vec_id, CAST(d.j // (SELECT np FROM p) AS INT)
),
cand AS (
    SELECT a.band, a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                                        i -> a.q[i] * b.q[i])) AS BIGINT)
               AS dot_milli2
    FROM sig a JOIN sig b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT min(band) AS band, arg_min(bucket, band) AS bucket,
       vec_a, vec_b, min(dot_milli2) AS dot_milli2
FROM cand
GROUP BY vec_a, vec_b
"""


def _ivf_inv_cte_parts(k: int = 8, iters: int = 2) -> list[str]:
    """CTE chain (list of ``name AS (...)`` strings) that trains the
    deterministic IVF quantizer and ends at ``inv(vec_id, v, cluster)``
    — the nearest-centroid assignment of every corpus vector. Shared
    prefix of the :func:`sim_ivf_kmeans` and :func:`dedup_semantic`
    oracles: seeding becomes k-1 chained argmin CTEs and each Lloyd
    round an assign+mean CTE pair. Multiply-referenced states are
    MATERIALIZED (plain inlining doubles the plan per step)."""
    parts = [
        "ev AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        """s1 AS MATERIALIZED (
    SELECT 1 AS cluster, v AS cv FROM ev
    ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
             vec_id
    LIMIT 1)""",
    ]
    for i in range(2, k + 1):
        parts.append(f"""s{i} AS MATERIALIZED (
    SELECT * FROM s{i - 1}
    UNION ALL
    SELECT {i} AS cluster, v AS cv FROM (
        SELECT vec_id, v, best FROM (
            SELECT e.vec_id AS vec_id, any_value(e.v) AS v,
                   max(list_cosine_similarity(e.v, c.cv)) AS best
            FROM ev e CROSS JOIN s{i - 1} c
            GROUP BY e.vec_id
        ) ORDER BY best ASC, vec_id LIMIT 1
    ))""")
    cents = f"s{k}"
    assign = """{name} AS MATERIALIZED (
    SELECT vec_id, v, cluster FROM (
        SELECT e.vec_id, e.v, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cluster) AS rn
        FROM ev e CROSS JOIN {cents} c
    ) WHERE rn = 1)"""
    for r in range(1, iters + 1):
        parts.append(assign.format(name=f"a{r}", cents=cents))
        parts.append(f"""m{r} AS MATERIALIZED (
    SELECT cluster, list(m ORDER BY dim) AS cv FROM (
        SELECT cluster, dim, avg(x) AS m FROM (
            SELECT cluster, generate_subscripts(v, 1) AS dim, unnest(v) AS x
            FROM a{r}
        ) GROUP BY cluster, dim
    ) GROUP BY cluster)""")
        cents = f"m{r}"
    parts.append(assign.format(name="inv", cents=cents))
    return parts


def _ivf_kmeans_sql(k: int = 8, iters: int = 2) -> str:
    """Unrolled-CTE oracle for :func:`sim_ivf_kmeans`: the shared
    trained-quantizer prefix (:func:`_ivf_inv_cte_parts`) plus the
    probe/top-5 tail."""
    parts = _ivf_inv_cte_parts(k, iters)
    tail = """
SELECT q_id, probe_cluster, neighbor_id, floor(cos * 10000) / 10000 AS cosine, rn
FROM (
    SELECT q.vec_id AS q_id, c.cluster AS probe_cluster, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.v, c.v) AS cos,
           CAST(row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS INT) AS rn
    FROM inv q JOIN inv c ON c.cluster = q.cluster AND c.vec_id <> q.vec_id
    WHERE q.vec_id < 3
) WHERE rn <= 5
"""
    return "WITH " + ",\n".join(parts) + tail


def emb_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality audit: per-label min/max/mean SQUARED norm of
    the milli-quantized vectors plus the count outside a healthy band —
    the check that catches unnormalized or degenerate vectors before
    they poison cosine retrieval. Squared norms stay in exact int64
    (sqrt would be irrational and engine-divergent); the mean is a
    floor over integer sums. One scan, one map-side-combining agg."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * 1000).cast("long"),
    )
    sq = F.aggregate(
        F.transform(q, lambda v: v * v),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    base = emb.select("label", sq.alias("sq_norm"))
    healthy_lo, healthy_hi = 500_000, 2_000_000  # milli^2 band around unit norm
    return (
        base.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("sq_norm").alias("min_sq"),
            F.max("sq_norm").alias("max_sq"),
            F.floor(F.sum("sq_norm") / F.count(F.lit(1))).cast("bigint").alias("mean_sq"),
            F.sum(
                ((F.col("sq_norm") < healthy_lo) | (F.col("sq_norm") > healthy_hi))
                .cast("long")
            ).alias("n_out_of_band"),
        )
        .orderBy("label")
    )


_NORM_SQL = """
SELECT label, count(*) AS n_vecs,
       min(sq) AS min_sq, max(sq) AS max_sq,
       CAST(FLOOR(CAST(sum(sq) AS DOUBLE) / count(*)) AS BIGINT) AS mean_sq,
       CAST(sum(CASE WHEN sq < 500000 OR sq > 2000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_out_of_band
FROM (
    SELECT label,
           CAST(list_sum(list_transform(embedding::DOUBLE[],
                x -> CAST(round(x * 1000) AS BIGINT)
                     * CAST(round(x * 1000) AS BIGINT))) AS BIGINT) AS sq
    FROM embeddings
)
GROUP BY label
ORDER BY label
"""


# --- emb_quantize_int8: symmetric scalar quantization audit -------------------
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric scalar quantization per vector (the compression
    step every large ANN deployment applies before PQ/IVF storage:
    q_i = round-toward-zero(x_i·127 / maxabs)), audited by narrow
    integer outputs instead of shipping the quantized vectors around:
    the per-vector scale (milli-units), the signed checksum and the L1
    mass of the quantized codes, and the worst reconstruction error in
    ppm-of-scale. All arithmetic on milli-quantized ints; negatives go
    through sign·(abs·127 div maxabs) so Spark's truncating ``div``
    and DuckDB's flooring ``//`` agree (both see non-negative
    operands). Pure map-side column program — zero shuffles beyond the
    final collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * 1000).cast("long"),
    )
    d = emb.select("vec_id", q.alias("q"))
    maxabs = F.array_max(F.transform(F.col("q"), lambda x: F.abs(x)))
    d = d.withColumn("maxabs", maxabs).withColumn(
        "codes",
        F.when(F.col("maxabs") == 0, F.transform(F.col("q"), lambda x: F.lit(0).cast("long")))
        .otherwise(
            F.transform(
                F.col("q"),
                lambda x: F.signum(x).cast("long")
                * ((F.abs(x) * 127) / F.col("maxabs")).cast("long"),
            )
        ),
    )
    # reconstruction error per dim in ppm of maxabs: |q - code*maxabs/127|
    err = F.zip_with(
        F.col("q"), F.col("codes"),
        lambda x, c: F.abs(x * 127 - c * F.col("maxabs")),
    )
    return d.select(
        "vec_id",
        F.col("maxabs").alias("scale_milli"),
        F.aggregate(F.col("codes"), F.lit(0).cast("long"), lambda a, x: a + x)
        .alias("code_sum"),
        F.aggregate(F.col("codes"), F.lit(0).cast("long"), lambda a, x: a + F.abs(x))
        .alias("code_l1"),
        F.when(F.col("maxabs") == 0, F.lit(0).cast("long"))
        .otherwise(
            (F.array_max(err) * 1000000 / (F.col("maxabs") * 127)).cast("long")
        )
        .alias("max_err_ppm"),
    )


_QUANT_SQL = """
WITH qv AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(round(x * 1000) AS BIGINT)) AS q
    FROM embeddings
    WHERE embedding IS NOT NULL
),
d AS (
    SELECT vec_id, q,
           list_max(list_transform(q, x -> abs(x))) AS maxabs
    FROM qv
),
c AS (
    SELECT vec_id, q, maxabs,
           CASE WHEN maxabs = 0
                THEN list_transform(q, x -> CAST(0 AS BIGINT))
                ELSE list_transform(
                    q, x -> CAST(sign(x) AS BIGINT)
                            * CAST((abs(x) * 127) // maxabs AS BIGINT))
           END AS codes
    FROM d
)
SELECT vec_id,
       CAST(maxabs AS BIGINT) AS scale_milli,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS code_l1,
       CASE WHEN maxabs = 0 THEN 0
            ELSE CAST(
                list_max(list_transform(range(1, len(q) + 1),
                    i -> abs(q[i] * 127 - codes[i] * maxabs)))
                * 1000000 // (maxabs * 127) AS BIGINT)
       END AS max_err_ppm
FROM c
"""


# --- sim_lsh_recall: ANN quality audit (recall@k vs brute force) --------------
_RECALL_MIN_MOD = 64     # sample stride floor (small corpora)
_RECALL_TARGET = 1024    # ~probe count the stride aims for at any n
_RECALL_K = 5


def _recall_mod_for(n: int) -> int:
    """Probe-sampling stride: 2^max(6, ⌈log2(n/1024)⌉) — every
    stride-th vector probes, so the sample is BOUNDED (~1-2k probes)
    at any corpus size instead of a fixed fraction. A fixed 1/64
    sample broadcast against the corpus grows with n (the plan
    doctor's unkeyed-broadcast-join warning, caught at review); a
    bounded stride keeps the ground-truth stage O(target·n) — linear —
    and the broadcast constant-sized. Power-of-two so the oracle's
    pow(2, k) SQL reproduces it exactly in integers."""
    import math

    return 1 << max(
        (_RECALL_MIN_MOD - 1).bit_length(),
        math.ceil(math.log2(max(n, 1) / _RECALL_TARGET)),
    )


def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 audit of the banded corpus-adaptive LSH family — the
    quality side of this family's scale story (candidates stay linear
    because planes track log2(n); bands exist so RECALL survives that
    growth — this query measures it instead of asserting it).

    For a deterministic BOUNDED probe sample (every
    :func:`_recall_mod_for`-th vector — ~1-2k probes at any corpus
    size): ground truth = top-5 neighbors by exact integer dot product
    (quantized milli-units, so both engines rank identically; ties
    broken by neighbor id); n_hits = how many of those 5 appear among
    the probe's LSH candidates (either pair direction). Output one row
    per probe.

    Scale shape: the probe sample is a CONSTANT-SIZED broadcast
    against the corpus (stride grows with n; a fixed-fraction sample
    would make the non-equi broadcast join's build side grow with
    data — the plan doctor's unkeyed-broadcast-join warning), the
    ground truth stage is O(target·n) — linear — the top-5 is a
    per-probe window, and the candidate join is output-sized. The
    LSH candidate stage is shared with :func:`sim_lsh_cosine` and
    serves a production rollout the way ANN recall dashboards do."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.filter(F.col("embedding").isNotNull()).count()  # oracle counts FROM qv
    mod = _recall_mod_for(n)
    q = _quantized(emb)
    probes = q.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("q").alias("pq")
    )
    dot = F.aggregate(
        F.zip_with(F.col("pq"), F.col("q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        q.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("nbr"), dot.alias("dot"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("dot"), "nbr")
    top5 = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("probe_id", "nbr")
    )
    cand = lsh_candidate_pairs(emb, lsh_planes_for(n), bands=_LSH_BANDS)
    lsh_nbrs = (
        cand.select(F.col("vec_a").alias("probe_id"), F.col("vec_b").alias("nbr"))
        .unionByName(
            cand.select(F.col("vec_b").alias("probe_id"), F.col("vec_a").alias("nbr"))
        )
        .distinct()
    )
    return (
        top5.join(lsh_nbrs.withColumn("hit", F.lit(1)), ["probe_id", "nbr"], "left")
        .groupBy("probe_id")
        .agg(F.count("hit").cast("int").alias("n_hits"))
        .orderBy("probe_id")
    )


_RECALL_SQL = f"""
WITH qv AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(round(x * 1000) AS BIGINT)) AS q
    FROM embeddings
    WHERE embedding IS NOT NULL
),
cand AS ({_LSH_SQL}),
pm AS (
    -- same bounded stride as _recall_mod_for: 2^max(6, ceil(log2(n/{_RECALL_TARGET})))
    SELECT CAST(pow(2, greatest(6,
               CAST(ceil(log2(greatest(count(*), 1) / {_RECALL_TARGET}.0)) AS INT)))
           AS BIGINT) AS m
    FROM qv
),
probes AS (
    SELECT vec_id AS probe_id, q AS pq FROM qv
    WHERE vec_id % (SELECT m FROM pm) = 0
),
scored AS (
    SELECT p.probe_id, o.vec_id AS nbr,
           CAST(list_sum(list_transform(range(1, len(p.pq) + 1),
                                        i -> p.pq[i] * o.q[i])) AS BIGINT) AS dot
    FROM probes p JOIN qv o ON o.vec_id <> p.probe_id
),
top5 AS (
    SELECT probe_id, nbr FROM (
        SELECT probe_id, nbr,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY dot DESC, nbr) AS rn
        FROM scored
    ) WHERE rn <= {_RECALL_K}
),
lsh_nbrs AS (
    SELECT vec_a AS probe_id, vec_b AS nbr FROM cand
    UNION
    SELECT vec_b, vec_a FROM cand
)
SELECT t.probe_id, CAST(count(l.nbr) AS INT) AS n_hits
FROM top5 t
LEFT JOIN lsh_nbrs l ON l.probe_id = t.probe_id AND l.nbr = t.nbr
GROUP BY t.probe_id
ORDER BY t.probe_id
"""


# --- dedup_semantic: SemDeDup cluster-then-cosine embedding dedup -------------
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    2303.09540): k-means the embedding space with the TRAINED IVF
    quantizer, restrict near-dup candidate pairs to WITHIN a cluster,
    and resolve each duplicate to its smallest-id canonical member.

    This is the scale path for embedding dedup: the quadratic pair
    space shrinks from n² to Σ|cluster|² — with balanced clusters,
    n²/k — and the per-cluster self-join is an equi-join on the
    cluster id, never a cross join. ``dedup_embedding_cosine`` (label
    buckets) keeps the simple one-join shape; this one exercises the
    learned bucketer, shared ingest-time training and all
    (:func:`_trained_inverted_file` — the same cached inverted file
    sim_ivf_kmeans probes).

    Scale contract — k TRACKS CORPUS SIZE, it is not a constant: at
    fixed k, n²/k is still quadratic (the 10× probe measures ~21×,
    SCALE.md), so the production setting is k ≈ n / occupancy, which
    holds Σ|cluster|² at ~occupancy·n, LINEAR in n (SemDeDup itself
    trains 50k clusters on embedding corpora for exactly this
    reason). Since round 7 that setting is RUNNABLE, not just stated:
    :func:`train_ivf_kmeans_sampled` trains at any k in O(1) Spark
    jobs (bounded md5-ordered sample + driver-side chunked Lloyd) and
    assignment dispatches through the :func:`assign_ivf_auto` policy
    seam — the Arrow flat argmax while k·d fits one broadcast, the
    two-level √k multi-probe automatically past
    :data:`_IVF_TWO_LEVEL_CELLS` — SCALE.md's adaptive-k probe
    measures the full path at
    n=2^20, k=2048: wall time 4.6× across 8× data, pairs-per-row flat
    at occupancy/2.

    ROLE (since round 10): ALGORITHM CHECK ONLY. This gate runs fixed
    k=8 with the exact unrolled-CTE trainer because the seeding CTEs
    are structural in k — it verifies the Lloyd trainer + prune
    arithmetic cross-engine, and its n²/8 pair volume is quadratic BY
    CONFIG (SCALE.md's 18.4× probe measures exactly that; the probe
    row is annotated algorithm-check-only). The plan a 100 TB run
    executes — k ∝ n, auto-dispatched assignment, bounded-occupancy
    prune — is driver-gated by :func:`dedup_semantic_adaptive` below,
    which is the row SCALE.md holds to the data ratio.

    Skew armor: vectors with IDENTICAL embeddings collapse to one
    group representative before the pair join (see the in-body
    comment), so the candidate stage is quadratic only in DISTINCT
    vectors per cluster — an all-duplicates corpus generates zero rep
    pairs.

    The synthetic embeddings are random (max natural within-cluster
    cosine ≈0.47 at sf0.01), so the corpus is augmented with the same
    deterministic planted duplicates as dedup_embedding_cosine — every
    40th vector cloned under ``vec_id + 1_000_000``. A clone's vector
    is identical to its source's, so its nearest centroid is identical
    too: the clone inherits the source's cluster directly instead of
    re-running assignment (one broadcast-free projection).

    Output: one row per PRUNED vector — (cluster, pruned_id, kept_id,
    cosine) where kept_id is the smallest-id ≥-threshold neighbor and
    cosine the similarity to that keeper."""
    inv = _trained_inverted_file(spark, sf_dir).select("vec_id", "v", "cluster")
    aug = plant_clones(inv, "vec_id")
    # EXACT-GROUP COLLAPSE (lossless, the skew armor): vectors with
    # identical v in a cluster form one group keyed by its min id
    # (rep). For a target b, the min qualifying neighbor inside any
    # group g is g's rep when rep < b and NO member of g otherwise
    # (rep = min of g), and cos(b, any member of g) = cos(b, rep)
    # exactly (same array). So the pairwise stage runs over GROUP
    # REPRESENTATIVES only — Σ(distinct vectors per cluster)² instead
    # of Σ|cluster|² — and an all-identical corpus (the skew fixture's
    # worst case, one group per cluster) generates ZERO rep pairs
    # instead of n²/4. Identical output to the member-level self-join,
    # which the unchanged DuckDB oracle still computes.
    groups = aug.groupBy("cluster", "v").agg(F.min("vec_id").alias("rep_id"))
    members = aug.join(groups, ["cluster", "v"]).select("cluster", "vec_id", "v", "rep_id")
    # within-group candidates: every non-rep member's rep, cosine 1
    # (identical arrays; the oracle's round(cos, 2) of a same-array
    # cosine is 1.0 to well beyond float noise)
    # (zero-norm guard: the member-level join scores identical
    # zero vectors NaN, which fails the >= 0.9 filter — the shortcut
    # must exclude them too, not award them cosine 1)
    within = members.filter(
        (F.col("vec_id") > F.col("rep_id")) & (_norm(F.col("v")) > 0)
    ).select(
        "cluster",
        "vec_id",
        F.col("rep_id").alias("cand_id"),
        F.lit(1.0).alias("cos"),
    )
    ga = groups.select("cluster", F.col("rep_id").alias("rep_a"), F.col("v").alias("va"))
    gb = groups.select("cluster", F.col("rep_id").alias("rep_b"), F.col("v").alias("vb"))
    gpairs = (
        ga.join(gb, "cluster")
        .filter(F.col("rep_a") != F.col("rep_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.9)
        .select("cluster", "rep_a", "rep_b", "cos")
    )
    # qualified-alias join: members and gpairs share lineage, so an
    # unaliased cluster==cluster predicate resolves trivially true
    # (Spark logs it and joins on rep_id alone — correct only while
    # cluster is functional on rep_id). Aliasing both sides makes the
    # cluster-equality predicate real.
    m, g = members.alias("semw_m"), gpairs.alias("semw_g")
    across = (
        m.join(
            g,
            (F.col("semw_m.cluster") == F.col("semw_g.cluster"))
            & (F.col("semw_m.rep_id") == F.col("semw_g.rep_b")),
        )
        .filter(F.col("semw_g.rep_a") < F.col("semw_m.vec_id"))
        .select(
            F.col("semw_m.cluster").alias("cluster"),
            F.col("semw_m.vec_id").alias("vec_id"),
            F.col("semw_g.rep_a").alias("cand_id"),
            F.col("semw_g.cos").alias("cos"),
        )
    )
    cands = within.unionByName(across)
    return (
        cands.groupBy("cluster", F.col("vec_id").alias("pruned_id"))
        .agg(
            F.min("cand_id").alias("kept_id"),
            F.round(F.min_by("cos", "cand_id"), 2).alias("cosine"),
        )
        .select("cluster", "pruned_id", "kept_id", "cosine")
    )


_SEMANTIC_SQL = (
    "WITH "
    + ",\n".join(_ivf_inv_cte_parts())
    + f""",
aug AS (
    SELECT vec_id, v, cluster FROM inv
    UNION ALL
    SELECT vec_id + {CLONE_OFFSET} AS vec_id, v, cluster FROM inv
    WHERE vec_id % {CLONE_EVERY} = 0
)
SELECT a.cluster AS cluster, b.vec_id AS pruned_id,
       min(a.vec_id) AS kept_id,
       round(arg_min(list_cosine_similarity(a.v, b.v), a.vec_id), 2) AS cosine
FROM aug a JOIN aug b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.9
GROUP BY a.cluster, b.vec_id
"""
)


# --- dedup_semantic_adaptive: the k ∝ n production plan, driver-gated ---------
#: gate-scale cluster occupancy for the adaptive gate: k = ceil(n/4).
#: Deliberately small so the ADAPTIVE k lands past _IVF_BNLJ_MAX_K at
#: the driver's sf0.01 corpus (500 distinct vectors -> k = 125) and the
#: executed plan IS the Arrow flat-argmax dispatch — the same kernel a
#: 100 TB run uses until k·d crosses _IVF_TWO_LEVEL_CELLS. Production
#: occupancy is larger (SemDeDup uses O(1000)); occupancy is a constant
#: either way, which is the linearity contract: Σ|cluster|² ≈ occ·n.
_SEM_ADAPT_OCC = 4
#: fixed-point scale for the integer-exact embedding image: round(x·1e6)
#: as BIGINT. Every pairwise dot of two scaled vectors is ≤ 64·(5.3e5)²
#: ≈ 1.8e13 < 2^53, so BOTH engines' double arithmetic over these
#: integer-valued operands is EXACT — prune cosines agree bit-for-bit.
_SEM_ADAPT_FIX = 1_000_000


def dedup_semantic_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the PRODUCTION shape — adaptive k, auto-dispatched
    assignment — as a driver-verified gate (r9 VERDICT item 1: the
    fixed-k=8 :func:`dedup_semantic` gate verifies the Lloyd ALGORITHM
    against an unrolled-CTE oracle but executes an n²/8 pair volume;
    this gate executes the plan a 100× reviewer would actually accept
    and is the one SCALE.md holds to the data ratio).

    Division of labor (the sim_ivf_label precedent — the oracle
    replays deterministic ASSIGNMENT + PRUNE given a centroid rule, it
    does not re-derive training): the centroid table here comes from
    an exact SQL-replayable rule — md5-bucket the distinct vectors
    into k = ceil(n_distinct / :data:`_SEM_ADAPT_OCC`) buckets and sum
    each bucket's fixed-point integer vectors (cosine is scale-
    invariant, so the un-divided BIGINT sum is the mean direction with
    ZERO float accumulation in either engine). Lloyd training quality
    stays pinned by dedup_semantic's oracle + the planted-recovery
    tests; what THIS gate verifies end-to-end is everything that made
    the fixed-k gate scale-wrong: k tracking n, the
    :func:`assign_ivf_auto` dispatch (k=125 at sf0.01 -> the Arrow
    flat-argmax kernel), and the within-cluster prune at bounded
    occupancy.

    Scale shape, in order: one distinct-vector collapse (the exact-
    dedup-first discipline — also the skew armor: an all-duplicates
    corpus collapses to ONE rep before anything quadratic), one
    bounded count, one (bucket, dim)-keyed sum for centroids, ONE
    distributed assignment pass over reps only, a members equi-join,
    and a per-cluster rep self-join at Σ(occ)² ≈ occ·n pairs — linear
    in n with k ∝ n, which is the entire point.

    Cross-engine exactness: vectors enter as round(x·1e6) BIGINTs
    (:data:`_SEM_ADAPT_FIX` — no half-way rounding cases exist because
    (k+.5)/1e6 is not binary-representable, so float32 inputs can
    never land on a rounding boundary); centroid sums are exact BIGINT
    aggregates; prune cosines divide exact-integer-valued doubles.
    The ONLY float comparison left is the assignment argmax (numpy
    matmul vs DuckDB's list_cosine_similarity, identical operands,
    ulp-level disagreement only matters when the top-2 centroid gap
    < ~1e-13 — the same accepted risk as every green IVF gate).
    Zero-norm vectors: assigned to the smallest live cluster on both
    engines (the kernel's documented behavior, CASE'd in the oracle)
    and excluded from the pair stage (a zero vector has no cosine).

    Output: (cluster, pruned_id, kept_id, cosine) — same contract as
    dedup_semantic; on this corpus (natural max cosine ≈ 0.47) the
    pruned set is exactly the planted clones."""
    base = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "v", lambda x: F.round(x * _SEM_ADAPT_FIX).cast("bigint")
        ).alias("vi"),
    )
    # materialize reps once (r13): three consumers (the sizing agg,
    # the centroid build, repsd) each re-ran the corpus groupBy —
    # measured 3 × 0.16 s vs 0.13 s materialize + 3 × 0.07 s reads
    reps = base.groupBy("vi").agg(
        F.min("vec_id").alias("rep_id")
    ).localCheckpoint(eager=False)
    # one bounded scalar job sizes k (the adaptive dial) AND reads the
    # vector dimension, so the assignment dispatch below needs no probe
    # jobs of its own (r12: was reps.count() + cents.count() + a first())
    n_reps, dim = reps.agg(
        F.count(F.lit(1)), F.max(F.size("vi"))
    ).first()
    n_reps = int(n_reps)
    k = max(1, -(-n_reps // _SEM_ADAPT_OCC))
    bucketed = reps.withColumn(
        "bucket", (_hash_order(F.col("rep_id")) % k + 1).cast("int")
    )
    cents = (
        bucketed.select("bucket", F.posexplode("vi").alias("dim", "x"))
        .groupBy("bucket", "dim")
        .agg(F.sum("x").alias("s"))
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("p"))
        .select(
            F.col("bucket").alias("cluster"),
            F.transform(F.col("p"), lambda e: e.s.cast("double")).alias("cv"),
        )
        # no checkpoint: with k_hint/d_hint below, the assignment kernel
        # is cents' ONLY consumer (one collect / one broadcast join), so
        # the checkpoint would just add construction-time planning (r12)
    )
    # the BNLJ kernel keys its argmax window on `vec_id`, so the reps
    # frame wears that name through the dispatch
    repsd = reps.select(
        F.col("rep_id").alias("vec_id"),
        "vi",
        F.transform("vi", lambda x: x.cast("double")).alias("v"),
        F.aggregate(
            F.transform("vi", lambda x: x * x), F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("nsq"),
    )
    assigned = (
        assign_ivf_auto(
            repsd,
            cents,
            # an empty corpus yields an empty cents frame: k is 0 there,
            # not the ceil-division floor of 1. NOTE (r12 ADVICE): k is
            # the bucket-LABEL count; hash bucketing can leave some of
            # the k buckets empty, so k_hint may EXCEED the realized
            # centroid count the old cents.count() probe returned. The
            # only dispatch consequence is near the flat/two_level
            # k*d boundary (an over-count can pick the coarser path one
            # step early); bnlj/flat flips are both exact. Deriving the
            # realized count would re-add the probe job this hint exists
            # to remove.
            k_hint=k if n_reps else 0,
            d_hint=int(dim) if dim is not None else None,
        )
        .select(F.col("vec_id").alias("rep_id"), "vi", "nsq", "cluster")
        # materialize once: three consumers (members, and both sides of
        # the rep pair join) would otherwise re-execute the Arrow argmax
        # kernel subtree per consumer (r12; rep-cardinality rows only)
        .localCheckpoint(eager=False)
    )
    members = base.join(assigned, "vi").select(
        "cluster", "vec_id", "rep_id", "vi", "nsq"
    )
    aug = plant_clones(members, "vec_id")
    within = aug.filter(
        (F.col("vec_id") > F.col("rep_id")) & (F.col("nsq") > 0)
    ).select(
        "cluster", "vec_id", F.col("rep_id").alias("cand_id"),
        F.lit(1.0).alias("cos"),
    )
    live = assigned.filter(F.col("nsq") > 0)
    ra = live.select(
        "cluster", F.col("rep_id").alias("rep_a"),
        F.transform("vi", lambda x: x.cast("double")).alias("va"),
    )
    rb = live.select(
        "cluster", F.col("rep_id").alias("rep_b"),
        F.transform("vi", lambda x: x.cast("double")).alias("vb"),
    )
    rpairs = (
        ra.join(rb, "cluster")
        .filter(F.col("rep_a") != F.col("rep_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.9)
        .select("cluster", "rep_a", "rep_b", "cos")
    )
    # qualified-alias join (same rationale as the fixed-k gate above):
    # aug and rpairs share lineage; without aliases the cluster
    # equality resolves trivially true and the join silently keys on
    # rep_id alone. Alias both sides so the predicate is real.
    am, rg = aug.alias("sema_m"), rpairs.alias("sema_g")
    across = (
        am.join(
            rg,
            (F.col("sema_m.cluster") == F.col("sema_g.cluster"))
            & (F.col("sema_m.rep_id") == F.col("sema_g.rep_b")),
        )
        .filter(F.col("sema_g.rep_a") < F.col("sema_m.vec_id"))
        .select(
            F.col("sema_m.cluster").alias("cluster"),
            F.col("sema_m.vec_id").alias("vec_id"),
            F.col("sema_g.rep_a").alias("cand_id"),
            F.col("sema_g.cos").alias("cos"),
        )
    )
    cands = within.unionByName(across)
    return (
        cands.groupBy("cluster", F.col("vec_id").alias("pruned_id"))
        .agg(
            F.min("cand_id").alias("kept_id"),
            F.round(F.min_by("cos", "cand_id"), 2).alias("cosine"),
        )
        .select("cluster", "pruned_id", "kept_id", "cosine")
    )


_SEM_ADAPT_SQL = f"""
WITH base AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
               x -> CAST(round(x * {_SEM_ADAPT_FIX}) AS BIGINT)) AS vi
    FROM embeddings
),
reps AS (
    SELECT vi, min(vec_id) AS rep_id FROM base GROUP BY vi
),
params AS (
    SELECT GREATEST(1, CAST(ceil(count(*) / {_SEM_ADAPT_OCC}.0) AS BIGINT)) AS k
    FROM reps
),
bucketed AS (
    SELECT rep_id, vi,
           CAST(CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % k + 1 AS INT) AS bucket
    FROM reps, params
),
dimsums AS (
    SELECT bucket, dim, CAST(sum(x) AS BIGINT) AS s
    FROM (
        SELECT bucket, generate_subscripts(vi, 1) AS dim, unnest(vi) AS x
        FROM bucketed
    )
    GROUP BY bucket, dim
),
cents AS (
    SELECT bucket, list(CAST(s AS DOUBLE) ORDER BY dim) AS cv
    FROM dimsums GROUP BY bucket
),
repsd AS (
    SELECT rep_id, vi,
           list_transform(vi, x -> CAST(x AS DOUBLE)) AS vd,
           CAST(list_sum(list_transform(vi, x -> x * x)) AS BIGINT) AS nsq
    FROM bucketed
),
minb AS (SELECT min(bucket) AS mb FROM cents),
scored AS (
    SELECT r.rep_id, r.vi, r.nsq, c.bucket AS cluster,
           row_number() OVER (
               PARTITION BY r.rep_id
               ORDER BY list_cosine_similarity(r.vd, c.cv) DESC, c.bucket
           ) AS rn
    FROM repsd r CROSS JOIN cents c
    WHERE r.nsq > 0
),
assigned AS (
    SELECT rep_id, vi, nsq, cluster FROM scored WHERE rn = 1
    UNION ALL
    SELECT r.rep_id, r.vi, r.nsq, m.mb AS cluster
    FROM repsd r, minb m WHERE r.nsq = 0
),
members AS (
    SELECT a.cluster, b.vec_id, a.rep_id, a.vi, a.nsq
    FROM base b JOIN assigned a ON b.vi = a.vi
),
aug AS (
    SELECT * FROM members
    UNION ALL
    SELECT cluster, vec_id + {CLONE_OFFSET} AS vec_id, rep_id, vi, nsq
    FROM members WHERE vec_id % {CLONE_EVERY} = 0
),
within_c AS (
    SELECT cluster, vec_id, rep_id AS cand_id, 1.0 AS cos
    FROM aug WHERE vec_id > rep_id AND nsq > 0
),
live AS (
    SELECT cluster, rep_id,
           list_transform(vi, x -> CAST(x AS DOUBLE)) AS vd
    FROM assigned WHERE nsq > 0
),
rpairs AS (
    SELECT a.cluster, a.rep_id AS rep_a, b.rep_id AS rep_b,
           list_cosine_similarity(a.vd, b.vd) AS cos
    FROM live a JOIN live b
      ON a.cluster = b.cluster AND a.rep_id <> b.rep_id
    WHERE list_cosine_similarity(a.vd, b.vd) >= 0.9
),
acrs AS (
    SELECT g.cluster, g.vec_id, p.rep_a AS cand_id, p.cos
    FROM aug g JOIN rpairs p
      ON g.cluster = p.cluster AND g.rep_id = p.rep_b
    WHERE p.rep_a < g.vec_id
),
cands AS (
    SELECT * FROM within_c UNION ALL SELECT * FROM acrs
)
SELECT cluster, vec_id AS pruned_id, min(cand_id) AS kept_id,
       round(arg_min(cos, cand_id), 2) AS cosine
FROM cands GROUP BY cluster, vec_id
"""


# --- corpus_split_semantic_leakage: embedding-level decontamination -----------


def corpus_split_semantic_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination across the train/val/test boundary —
    the embedding-space counterpart of ``corpus_split_leakage`` (which
    audits shared n-grams): count val/test docs whose embedding has a
    ≥0.9-cosine neighbor on the TRAIN side. An eval doc that is a
    near-copy of a training doc inflates benchmark numbers exactly like
    verbatim contamination, and n-gram audits miss paraphrases — this
    is the check SemDeDup-era pipelines run before trusting a held-out
    split.

    Pieces shared, not re-invented: the ONE hash-split rule
    (queries/text.py ``_split_col`` — 980/10/10 on md5(id)), the ONE
    clone-plant rule (:func:`plant_clones` — the corpus embeddings are
    random, so cross-split near-dups exist only where planted; a
    clone's id reshuffles its split, putting real pairs across the
    boundary), and the trained coarse quantizer
    (:func:`_trained_inverted_file`) whose clusters bound the pair
    space to within-cluster equi-joins (n²/k; k tracks n at scale —
    the dedup_semantic contract).

    Output: one row per eval split — n_docs, n_leaked, leak_pm."""
    inv = _trained_inverted_file(spark, sf_dir).select("vec_id", "v", "cluster")
    aug = plant_clones(inv, "vec_id")
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 1000
    )
    s = aug.withColumn(
        "split",
        F.when(bucket < 980, "train").when(bucket < 990, "val").otherwise("test"),
    )
    tr = s.filter(F.col("split") == "train").select(
        F.col("vec_id").alias("tid"), F.col("v").alias("tv"), "cluster"
    )
    ev = s.filter(F.col("split") != "train")
    leaked = (
        ev.join(tr, "cluster")
        .filter(F.col("vec_id") != F.col("tid"))
        .withColumn("cos", cosine(F.col("v"), F.col("tv")))
        .filter(F.col("cos") >= 0.9)
        .select("vec_id")
        .distinct()
        .withColumn("lk", F.lit(1).cast("long"))
    )
    return (
        ev.join(leaked, "vec_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("lk"), F.lit(0)).cast("bigint").alias("n_leaked"),
        )
        .select(
            "split", "n_docs", "n_leaked",
            F.expr("(n_leaked * 1000) div n_docs").alias("leak_pm"),
        )
        .orderBy("split")
    )


_SPLIT_SEM_CASE = (
    "CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 1000 < 980 THEN 'train'\n"
    "     WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 1000 < 990 THEN 'val'\n"
    "     ELSE 'test' END"
)

_SPLIT_SEM_SQL = (
    "WITH "
    + ",\n".join(_ivf_inv_cte_parts())
    + f""",
aug AS (
    SELECT vec_id, v, cluster FROM inv
    UNION ALL
    SELECT vec_id + {CLONE_OFFSET} AS vec_id, v, cluster FROM inv
    WHERE vec_id % {CLONE_EVERY} = 0
),
sp AS (SELECT vec_id, v, cluster, {_SPLIT_SEM_CASE} AS split FROM aug),
leaked AS (
    SELECT DISTINCT a.vec_id FROM sp a JOIN sp b
        ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
    WHERE a.split <> 'train' AND b.split = 'train'
      AND list_cosine_similarity(a.v, b.v) >= 0.9
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 END), 0) AS BIGINT)
           AS n_leaked,
       CAST((coalesce(sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 END), 0) * 1000)
            // count(*) AS BIGINT) AS leak_pm
FROM sp LEFT JOIN leaked l USING (vec_id)
WHERE split <> 'train'
GROUP BY split ORDER BY split
"""
)


# --- sim_ivf_pq: product-quantized ADC search over the coarse IVF -------------
#: PQ geometry (Jégou et al. 2011, "Product Quantization for Nearest
#: Neighbor Search"): m=8 subspaces × 8 dims, k=8 codewords each,
#: 2 Lloyd rounds = 24 bits/vector. Chosen empirically on the fixture:
#: the corpus embeddings are ISOTROPIC (coarse-residual energy ratio
#: 0.93 — no cluster structure for residual coding to exploit), and at
#: m=4/k=4 (8 bits) ADC ranking was barely better than random; at 24
#: bits every query's best ADC pick lands in the exact top-7. Small k
#: also keeps the unrolled oracle tractable (k−1 chained seed CTEs).
_PQ_SUBS, _PQ_SUBDIM, _PQ_K, _PQ_ITERS = 8, 8, 8, 2


def _milli_arr(col):
    """array<double> → array<long> in milli units — the repo's one
    integer-quantization rule (identical construction in every oracle:
    CAST(round(x*1000) AS BIGINT))."""
    return F.transform(col, lambda x: F.round(x * 1000).cast("long"))


def _int_dot(a, b):
    """Exact int64 dot product of two equal-length long arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_sqdist(a, b):
    """Exact int64 squared L2 distance of two long arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, sub, sv): milli-quantized 16-dim slices of each vector.
    The explode multiplies rows by m=4, but each row shrinks by the
    same factor — total bytes moved is unchanged."""
    mq = emb.select("vec_id", _milli_arr(F.col("v")).alias("mv"))
    return mq.select(
        "vec_id",
        F.explode(F.array(*[F.lit(s) for s in range(_PQ_SUBS)])).alias("sub"),
        "mv",
    ).select(
        "vec_id", "sub",
        F.slice("mv", F.col("sub") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
    )


def _train_pq(sv: DataFrame) -> DataFrame:
    """Per-subspace k-means over integer sub-vectors → codebook
    ``(sub, cluster, cv)``, 16 rows. INTEGER-EXACT end to end: seeding
    and assignment compare int64 squared distances (no float ties), and
    the Lloyd mean re-quantizes to integers via floor(sum/count) on
    exact int64 sums — so unlike the float coarse quantizer the whole
    training is bit-reproducible by construction, not by rounding.

    Same shapes as :func:`train_ivf_kmeans`, but every argmin/argmax is
    a PARTITIONED window over ``sub`` (all m codebooks train in the
    same pass) and every codebook join is a broadcast of ≤ m·k rows."""
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    w_seed = Window.partitionBy("sub").orderBy(h, "vec_id")
    chosen = (
        sv.withColumn("rn", F.row_number().over(w_seed))
        .filter(F.col("rn") == 1)
        .select("sub", F.lit(1).alias("cluster"), F.col("sv").alias("cv"))
        .localCheckpoint(eager=False)
    )
    for i in range(2, _PQ_K + 1):
        w_far = Window.partitionBy("sub").orderBy(F.desc("bestd"), "vec_id")
        far = (
            sv.join(F.broadcast(chosen), "sub")
            .withColumn("d", _int_sqdist(F.col("sv"), F.col("cv")))
            .groupBy("vec_id", "sub")
            .agg(F.min("d").alias("bestd"), F.first("sv").alias("sv"))
            .withColumn("rn", F.row_number().over(w_far))
            .filter(F.col("rn") == 1)
            .select("sub", F.lit(i).alias("cluster"), F.col("sv").alias("cv"))
        )
        chosen = chosen.unionByName(far).localCheckpoint(eager=False)
    cents = chosen
    for _ in range(_PQ_ITERS):
        assigned = _pq_assign(sv, cents).join(sv, ["vec_id", "sub"])
        cents = (
            assigned.select(
                "sub", "cluster", F.posexplode("sv").alias("dim", "x")
            )
            .groupBy("sub", "cluster", "dim")
            .agg(
                F.floor(
                    F.sum("x").cast("double") / F.count(F.lit(1))
                ).cast("long").alias("m")
            )
            .groupBy("sub", "cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("p"))
            .select(
                "sub", "cluster", F.transform("p", lambda s: s.m).alias("cv")
            )
            .localCheckpoint(eager=False)
        )
    return cents


def _pq_assign(sv: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-codeword codes ``(vec_id, sub, cluster)`` — broadcast
    the ≤ m·k codebook, int argmin per (vec_id, sub), ties → cluster."""
    w = Window.partitionBy("vec_id", "sub").orderBy("d", "cluster")
    return (
        sv.join(F.broadcast(cents), "sub")
        .withColumn("d", _int_sqdist(F.col("sv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "cluster")
    )


def sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the memory-bounded ANN scale path — coarse IVF prune
    (the trained quantizer :func:`train_ivf_kmeans` already serving
    sim_ivf_kmeans / dedup_semantic), then ASYMMETRIC DISTANCE
    COMPUTATION over 4×2-bit PQ codes instead of raw vectors: score ≈
    Σ_sub dot(q_sub, codeword[code]) — at 10⁹ vectors the scored
    candidate set is codes (2 bytes/vector) + a 16-row LUT per query,
    never the 256-byte raw vectors.

    Scale shape: training touches sub-vectors (same bytes as the
    corpus, once); per query the LUT is m·k = 16 rows built from a
    broadcast codebook; candidate scoring is a (sub, code)-keyed
    broadcast-LUT join over the probed posting list only — no pair
    stage ever sees raw vectors. Integer-exact throughout (milli
    quantization, int64 dots), so the oracle is bit-identical by
    construction."""
    est = _pq_adc_est(spark, sf_dir)
    w = Window.partitionBy("q_id").orderBy(F.desc("est_dot_milli2"), "vec_id")
    return (
        est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "q_id", "probe_cluster",
            F.col("vec_id").alias("neighbor_id"), "est_dot_milli2", "rn",
        )
    )


def _pq_adc_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC estimate per (q_id, probe_cluster, vec_id) over the coarse
    posting list — shared by :func:`sim_ivf_pq` (top-5 serving) and
    :func:`sim_pq_recall` (quality dashboard)."""
    emb = _emb(spark, sf_dir)
    inv = _trained_inverted_file(spark, sf_dir)  # (vec_id, v, cluster)
    sv = _pq_subvectors(emb).localCheckpoint(eager=False)
    # codebook + codes are ingest-time artifacts (the trained IVF
    # pattern): train once per (app, dataset), serve warm thereafter
    from codegraph_spark.serving import shared_df

    cents = shared_df(spark, (sf_dir, "pq", "codebook"), lambda: _train_pq(sv))
    codes = shared_df(spark, (sf_dir, "pq", "codes"), lambda: _pq_assign(sv, cents))
    q = (
        inv.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("cluster").alias("probe"))
    )
    q_sub = _pq_subvectors(emb.filter(F.col("vec_id") < 3)).select(
        F.col("vec_id").alias("q_id"), "sub", F.col("sv").alias("qsv")
    )
    lut = (
        q_sub.join(F.broadcast(cents), "sub")
        .select(
            "q_id", "sub", "cluster",
            _int_dot(F.col("qsv"), F.col("cv")).alias("part"),
        )
    )
    cand = (
        inv.select("vec_id", "cluster")
        .join(
            F.broadcast(q),
            (F.col("cluster") == F.col("probe")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", F.col("cluster").alias("probe_cluster"), "vec_id")
        .join(codes.withColumnRenamed("cluster", "code"), "vec_id")
    )
    est = (
        cand.join(
            F.broadcast(lut),
            (cand["q_id"] == lut["q_id"])
            & (cand["sub"] == lut["sub"])
            & (cand["code"] == lut["cluster"]),
        )
        .select(cand["q_id"], "probe_cluster", "vec_id", "part")
        .groupBy("q_id", "probe_cluster", "vec_id")
        .agg(F.sum("part").alias("est_dot_milli2"))
    )
    return est


def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall dashboard for the PQ family (the :func:`sim_lsh_recall`
    counterpart): per query, how many of the ADC top-5 sit in the
    EXACT integer-dot top-5 over the same probed posting list, plus
    the exact rank of ADC's best pick and the candidate count — the
    numbers that justify (or veto) a 24-bit code budget before anyone
    trains on PQ-retrieved neighbors.

    Scale shape: the exact side is a per-query scan of the probed
    posting list only (O(posting·d) integer dots — the ground-truth
    stage every recall audit pays), never the corpus; ADC side reuses
    the shared estimate. All integer; no new shuffle shapes."""
    est = _pq_adc_est(spark, sf_dir)
    w_adc = Window.partitionBy("q_id").orderBy(F.desc("est_dot_milli2"), "vec_id")
    adc5 = (
        est.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id")
    )
    inv = _trained_inverted_file(spark, sf_dir)
    mq = _emb(spark, sf_dir).select("vec_id", _milli_arr(F.col("v")).alias("m"))
    base = inv.join(mq, "vec_id").select("vec_id", "cluster", "m")
    q = base.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("cluster").alias("probe"),
        F.col("m").alias("qm"),
    )
    ex = (
        base.join(
            F.broadcast(q),
            (F.col("cluster") == F.col("probe")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id", _int_dot(F.col("qm"), F.col("m")).alias("dot"))
    )
    w_ex = Window.partitionBy("q_id").orderBy(F.desc("dot"), "vec_id")
    ex_ranked = ex.withColumn("xrn", F.row_number().over(w_ex))
    n_cand = ex.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_cand"))
    ov = (
        adc5.join(ex_ranked.select("q_id", "vec_id", "xrn"), ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(
            F.sum((F.col("xrn") <= 5).cast("long")).alias("recall5_hits"),
            F.min("xrn").cast("long").alias("best_adc_exact_rank"),
        )
    )
    return (
        n_cand.join(ov, "q_id")
        .select("q_id", "n_cand", "recall5_hits", "best_adc_exact_rank")
        .orderBy("q_id")
    )


def _pq_cte_parts() -> list[str]:
    """CTE chain for the PQ half of the :func:`sim_ivf_pq` oracle:
    milli sub-vectors → per-sub seeding (k−1 chained argmax CTEs, all
    subs at once via partitioned row_number) → Lloyd assign+mean pairs
    → ``codes``/``pqc`` (final codebook). Mirrors the Spark program
    constant for constant; every arithmetic step is int64."""
    sd, m, k = _PQ_SUBDIM, _PQ_SUBS, _PQ_K
    parts = [
        f"""psv AS MATERIALIZED (
    SELECT vec_id, sub,
           list_transform(range(1, {sd} + 1),
                          j -> CAST(round(mv[sub * {sd} + j] * 1000) AS BIGINT)) AS sv
    FROM (SELECT vec_id, embedding::DOUBLE[] AS mv FROM embeddings)
    CROSS JOIN (SELECT unnest(range(0, {m})) AS sub))""",
        f"""pq1 AS MATERIALIZED (
    SELECT sub, 1 AS cluster, sv AS cv FROM (
        SELECT sub, sv, row_number() OVER (PARTITION BY sub
            ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
                     vec_id) AS rn
        FROM psv
    ) WHERE rn = 1)""",
    ]
    dist = (
        f"list_sum(list_transform(range(1, {sd} + 1), "
        "j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j])))"
    )
    for i in range(2, k + 1):
        parts.append(f"""pq{i} AS MATERIALIZED (
    SELECT * FROM pq{i - 1}
    UNION ALL
    SELECT sub, {i} AS cluster, sv AS cv FROM (
        SELECT sub, sv, row_number() OVER (PARTITION BY sub
                   ORDER BY bestd DESC, vec_id) AS rn
        FROM (
            SELECT s.vec_id, s.sub AS sub, any_value(s.sv) AS sv,
                   min({dist}) AS bestd
            FROM psv s JOIN pq{i - 1} c ON s.sub = c.sub
            GROUP BY s.vec_id, s.sub
        )
    ) WHERE rn = 1)""")
    cents = f"pq{k}"
    assign = f"""{{name}} AS MATERIALIZED (
    SELECT vec_id, sub, cluster FROM (
        SELECT s.vec_id, s.sub AS sub, c.cluster,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                   ORDER BY {dist}, c.cluster) AS rn
        FROM psv s JOIN {{cents}} c ON s.sub = c.sub
    ) WHERE rn = 1)"""
    for r in range(1, _PQ_ITERS + 1):
        parts.append(assign.format(name=f"pa{r}", cents=cents))
        parts.append(f"""pm{r} AS MATERIALIZED (
    SELECT sub, cluster, list(mm ORDER BY dim) AS cv FROM (
        SELECT sub, cluster, dim,
               CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS mm
        FROM (
            SELECT a.sub AS sub, a.cluster, generate_subscripts(s.sv, 1) AS dim,
                   unnest(s.sv) AS x
            FROM pa{r} a JOIN psv s ON a.vec_id = s.vec_id AND a.sub = s.sub
        ) GROUP BY sub, cluster, dim
    ) GROUP BY sub, cluster)""")
        cents = f"pm{r}"
    parts.append(assign.format(name="codes", cents=cents))
    parts.append(f"pqc AS MATERIALIZED (SELECT * FROM {cents})")
    return parts


_PQ_EST_CTES = f"""qs AS (
    SELECT i.vec_id AS q_id, i.cluster AS probe, s.sub AS sub, s.sv AS qsv
    FROM inv i JOIN psv s ON i.vec_id = s.vec_id
    WHERE i.vec_id < 3
),
lut AS (
    SELECT q.q_id, q.sub AS sub, c.cluster,
           list_sum(list_transform(range(1, {_PQ_SUBDIM} + 1),
                                   j -> q.qsv[j] * c.cv[j])) AS part
    FROM qs q JOIN pqc c ON q.sub = c.sub
),
est AS MATERIALIZED (
    SELECT q.q_id, q.probe AS probe_cluster, i.vec_id,
           CAST(sum(l.part) AS BIGINT) AS est_dot_milli2
    FROM (SELECT DISTINCT q_id, probe FROM qs) q
    JOIN inv i ON i.cluster = q.probe AND i.vec_id <> q.q_id
    JOIN codes k ON k.vec_id = i.vec_id
    JOIN lut l ON l.q_id = q.q_id AND l.sub = k.sub AND l.cluster = k.cluster
    GROUP BY q.q_id, q.probe, i.vec_id
)"""

_IVF_PQ_SQL = (
    "WITH "
    + ",\n".join(_ivf_inv_cte_parts() + _pq_cte_parts() + [_PQ_EST_CTES])
    + """
SELECT q_id, probe_cluster, vec_id AS neighbor_id, est_dot_milli2,
       CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY est_dot_milli2 DESC, vec_id) AS INT) AS rn
FROM est
QUALIFY rn <= 5
"""
)

_PQ_RECALL_SQL = (
    "WITH "
    + ",\n".join(_ivf_inv_cte_parts() + _pq_cte_parts() + [_PQ_EST_CTES])
    + f""",
adc5 AS (
    SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
               ORDER BY est_dot_milli2 DESC, vec_id) AS rn
        FROM est
    ) WHERE rn <= 5
),
mq AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(round(x * 1000) AS BIGINT)) AS m
    FROM embeddings
),
exq AS (
    SELECT i.vec_id AS q_id, i.cluster AS probe, m.m AS qm
    FROM inv i JOIN mq m ON i.vec_id = m.vec_id WHERE i.vec_id < 3
),
ex AS MATERIALIZED (
    SELECT q.q_id, i.vec_id,
           CAST(list_sum(list_transform(range(1, len(q.qm) + 1),
                                        j -> q.qm[j] * m.m[j])) AS BIGINT) AS dot
    FROM exq q
    JOIN inv i ON i.cluster = q.probe AND i.vec_id <> q.q_id
    JOIN mq m ON m.vec_id = i.vec_id
),
exr AS (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS xrn
    FROM ex
)
SELECT n.q_id, n.n_cand, o.recall5_hits, o.best_adc_exact_rank
FROM (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand FROM ex GROUP BY q_id) n
JOIN (
    SELECT a.q_id,
           CAST(sum(CASE WHEN x.xrn <= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS recall5_hits,
           CAST(min(x.xrn) AS BIGINT) AS best_adc_exact_rank
    FROM adc5 a JOIN exr x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    GROUP BY a.q_id
) o USING (q_id)
ORDER BY q_id
"""
)


# --- emb_pca_power: dominant principal component by power iteration -----------
#: fixed corpus embedding dimensionality (the testdata contract; the
#: oracle interpolates the same constant) and power-iteration rounds.
_PCA_DIM, _PCA_ROUNDS = 64, 3


def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding cloud (power
    iteration over the uncentered Gram matrix) — the anisotropy
    diagnostic a pipeline runs before cosine retrieval: a dominant
    component with a large Rayleigh share means the space has a rogue
    direction (unnormalized batch, collapsed model) that distance
    metrics will key on.

    Integer-exact everywhere it matters: the Gram matrix is int64 over
    milli-quantized components (exact, summation-order-free — the one
    place a float sum would be partition-order dependent), iterates are
    re-quantized to milli scale via floor on an IEEE double quotient
    (bit-identical across engines), and only the per-element arithmetic
    is floating.

    Scale shape: ONE corpus pass builds the d×d Gram — the tall-skinny
    trick: explode each vector against a broadcast (i, j) grid and
    map-side-combine, so the shuffle carries ≤ 4096 partial rows per
    task, never vectors. Every subsequent step (matvec, rescale,
    Rayleigh) touches only the 4096-row Gram and a 64-row iterate —
    corpus-size-free. Sign of the returned direction follows the
    all-ones start (deterministic)."""
    emb = _emb(spark, sf_dir)
    mq = emb.select(_milli_arr(F.col("v")).alias("mv"))
    ax = spark.range(1, _PCA_DIM + 1)
    grid = (
        ax.select(F.col("id").alias("i"))
        .crossJoin(ax.select(F.col("id").alias("j")))
    )
    g = (
        mq.crossJoin(F.broadcast(grid))
        .select(
            "i", "j",
            F.expr(
                "element_at(mv, CAST(i AS INT)) * element_at(mv, CAST(j AS INT))"
            ).alias("p"),
        )
        .groupBy("i", "j")
        .agg(F.sum("p").alias("g"))
        .localCheckpoint(eager=False)
    )
    v = ax.select(F.col("id").alias("dim"), F.lit(1000).cast("long").alias("x"))
    for _ in range(_PCA_ROUNDS):
        u = (
            g.join(F.broadcast(v), g["j"] == v["dim"])
            .groupBy(F.col("i").alias("dim"))
            .agg(F.sum(F.col("g") * F.col("x")).alias("u"))
        )
        m = u.agg(F.nullif(F.max(F.abs("u")), F.lit(0)).alias("m"))
        v = (
            u.crossJoin(F.broadcast(m))
            .select(
                "dim",
                F.floor(F.col("u") * F.lit(1000.0) / F.col("m"))
                .cast("long").alias("x"),
            )
            .localCheckpoint(eager=False)
        )
    u_fin = (
        g.join(F.broadcast(v), g["j"] == v["dim"])
        .groupBy(F.col("i").alias("dim"))
        .agg(F.sum(F.col("g") * F.col("x")).alias("u"))
    )
    ray = (
        u_fin.join(F.broadcast(v), "dim")
        .agg(
            F.sum(F.col("x") * F.col("u")).alias("num"),
            F.sum(F.col("x") * F.col("x")).alias("den"),
        )
        .select(
            F.floor(F.col("num") * F.lit(1000.0) / F.nullif(F.col("den"), F.lit(0)))
            .cast("long").alias("rayleigh_milli")
        )
    )
    return (
        v.crossJoin(F.broadcast(ray))
        .select("dim", F.col("x").alias("comp_milli"), "rayleigh_milli")
        .orderBy("dim")
    )


def _pca_power_sql(rounds: int = _PCA_ROUNDS) -> str:
    """Unrolled oracle for :func:`emb_pca_power`: Gram CTE + ``rounds``
    matvec/rescale pairs + the Rayleigh tail, constants shared with the
    Spark program."""
    d = _PCA_DIM
    parts = [
        f"""g AS MATERIALIZED (
    SELECT ii.i AS i, jj.j AS j,
           CAST(sum(CAST(round(mv[ii.i] * 1000) AS BIGINT)
                    * CAST(round(mv[jj.j] * 1000) AS BIGINT)) AS BIGINT) AS g
    FROM (SELECT embedding::DOUBLE[] AS mv FROM embeddings)
    CROSS JOIN (SELECT unnest(range(1, {d} + 1)) AS i) ii
    CROSS JOIN (SELECT unnest(range(1, {d} + 1)) AS j) jj
    GROUP BY ii.i, jj.j)""",
        f"""v0 AS (SELECT unnest(range(1, {d} + 1)) AS dim,
            CAST(1000 AS BIGINT) AS x)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""u{r} AS MATERIALIZED (
    SELECT g.i AS dim, CAST(sum(g.g * v.x) AS BIGINT) AS u
    FROM g JOIN v{r - 1} v ON g.j = v.dim GROUP BY g.i)""")
        parts.append(f"""v{r} AS MATERIALIZED (
    SELECT dim, CAST(floor(CAST(u AS DOUBLE) * 1000.0 / m) AS BIGINT) AS x
    FROM u{r}, (SELECT nullif(max(abs(u)), 0) AS m FROM u{r}))""")
    parts.append(f"""uf AS (
    SELECT g.i AS dim, CAST(sum(g.g * v.x) AS BIGINT) AS u
    FROM g JOIN v{rounds} v ON g.j = v.dim GROUP BY g.i)""")
    parts.append(f"""ray AS (
    SELECT CAST(floor(CAST(sum(v.x * u.u) AS DOUBLE) * 1000.0
                / nullif(CAST(sum(v.x * v.x) AS DOUBLE), 0)) AS BIGINT)
               AS rayleigh_milli
    FROM v{rounds} v JOIN uf u USING (dim))""")
    tail = f"""
SELECT v.dim, v.x AS comp_milli, ray.rayleigh_milli
FROM v{rounds} v CROSS JOIN ray
ORDER BY v.dim"""
    return "WITH " + ",\n".join(parts) + tail


# --- emb_alignment_audit: text↔embedding contract audit -----------------------
#: planted-fault moduli (deterministic, mirrored in the oracle): drop
#: every 17th embedding, NULL every 23rd, orphan every 31st under an
#: id no document carries — so the audit's detectors are exercised
#: instead of reporting zeros on the perfectly-aligned fixture
_AUDIT_DROP, _AUDIT_NULL, _AUDIT_ORPHAN = 17, 23, 31


def emb_alignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text↔embedding ALIGNMENT audit a multimodal pipeline runs
    before training: every document must have exactly one embedding
    row, no embedding may point at a missing document, and vectors
    must be non-NULL with the corpus's modal dimensionality. One
    summary row: doc/vector counts, missing / orphan / NULL-vector /
    dim-mismatch counts.

    Faults are PLANTED deterministically (the clone-plant pattern:
    drop %17, NULL %23, orphan %31 under id+2M) because the synthetic
    fixture is perfectly aligned — the gate then checks the detectors,
    not a vacuous zero row.

    Scale shape: two anti-joins keyed by the id (the missing and
    orphan detectors — at 100 TB these are the same broadcast- or
    shuffle-hash joins any integrity check pays), one modal-dim
    histogram (group by vector length, rows = #distinct dims), and
    single-row count aggregates; no pair stage anywhere."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    emb0 = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    kept = emb0.filter(F.col("vec_id") % _AUDIT_DROP != 0).withColumn(
        "embedding",
        F.when(F.col("vec_id") % _AUDIT_NULL == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    orphans = emb0.filter(F.col("vec_id") % _AUDIT_ORPHAN == 0).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    )
    emb = kept.unionByName(orphans)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_vecs = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    missing = docs.join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_missing"))
    orphan = emb.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_orphan"))
    n_null = emb.agg(
        F.sum(F.col("embedding").isNull().cast("long")).alias("n_null_emb")
    )
    # argmax as a 1-row AGGREGATE (min_by over a (-count, dim) struct),
    # not orderBy().limit(1): the aggregate still yields its one row
    # (NULL mode) on an empty corpus, so the summary row survives —
    # limit(1) on an empty histogram would erase the whole crossJoin
    # chain while the oracle's scalar subqueries still return a row
    mode_dim = (
        emb.filter(F.col("embedding").isNotNull())
        .groupBy(F.size("embedding").alias("dim"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.min_by(
                "dim", F.struct((-F.col("c")).alias("nc"), F.col("dim"))
            ).cast("bigint").alias("mode_dim")
        )
    )
    mismatch = (
        emb.filter(F.col("embedding").isNotNull())
        .crossJoin(F.broadcast(mode_dim))
        .agg(
            F.sum((F.size("embedding") != F.col("mode_dim")).cast("long")).alias(
                "n_dim_mismatch"
            )
        )
    )
    return (
        n_docs.crossJoin(n_vecs)
        .crossJoin(missing)
        .crossJoin(orphan)
        .crossJoin(n_null)
        .crossJoin(F.broadcast(mode_dim))
        .crossJoin(mismatch)
        .select(
            "n_docs", "n_vecs", "n_missing", "n_orphan",
            F.coalesce("n_null_emb", F.lit(0)).cast("bigint").alias("n_null_emb"),
            "mode_dim",
            F.coalesce("n_dim_mismatch", F.lit(0)).cast("bigint").alias("n_dim_mismatch"),
        )
    )


_ALIGN_SQL = f"""
WITH emb AS (
    SELECT vec_id,
           CASE WHEN vec_id % {_AUDIT_NULL} = 0 THEN NULL ELSE embedding END AS embedding
    FROM embeddings WHERE vec_id % {_AUDIT_DROP} <> 0
    UNION ALL
    SELECT vec_id + 2000000, embedding FROM embeddings
    WHERE vec_id % {_AUDIT_ORPHAN} = 0
),
md AS (
    SELECT CAST(dim AS BIGINT) AS mode_dim FROM (
        SELECT len(embedding) AS dim, count(*) AS c FROM emb
        WHERE embedding IS NOT NULL GROUP BY 1
    ) ORDER BY c DESC, dim LIMIT 1
)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       (SELECT count(*) FROM emb) AS n_vecs,
       (SELECT count(*) FROM documents d
         WHERE d.doc_id NOT IN (SELECT vec_id FROM emb)) AS n_missing,
       (SELECT count(*) FROM emb e
         WHERE e.vec_id NOT IN (SELECT doc_id FROM documents)) AS n_orphan,
       (SELECT CAST(COALESCE(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
          FROM emb) AS n_null_emb,
       (SELECT mode_dim FROM md) AS mode_dim,
       (SELECT CAST(COALESCE(SUM(CASE WHEN len(embedding) <> md.mode_dim THEN 1 ELSE 0 END), 0) AS BIGINT)
          FROM emb, md WHERE embedding IS NOT NULL) AS n_dim_mismatch
"""


# --- sim_hard_negatives: contrastive hard-negative mining ---------------------
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training (the retrieval-
    training data op): for each anchor, the top-3 most-similar vectors
    carrying a DIFFERENT label (the negatives that actually teach the
    model), each with the anchor's nearest same-label cosine and the
    resulting margin (fixed-point 1e-4 — floor of the shared IEEE
    doubles, so both engines agree bit-for-bit). A negative with
    small or negative margin is the valuable one.

    Scale shape: anchors are a FIXED query set (vec_id < 10 — bounded
    regardless of corpus size, so the broadcast never grows); the
    corpus is scanned ONCE, scored against all anchors in the same
    pass, and both the negative top-3 and the positive top-1 come from
    windows over that one scored stream (partitioned by anchor, never
    global). Mining for EVERY vector at production scale drops the
    scored stream behind the IVF/LSH candidate generators
    (sim_ivf_kmeans / sim_lsh_cosine) exactly as the brute-force
    baseline does."""
    emb = _emb(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    scored = (
        emb.join(F.broadcast(anchors), F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("v")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    negs = (
        scored.filter(F.col("label") != F.col("q_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    pos = (
        scored.filter(F.col("label") == F.col("q_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("q_id", F.col("cos").alias("p_cos"))
    )
    return (
        negs.join(pos, "q_id", "left")
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neg_label"),
            "rn",
            (F.floor(F.col("cos") * 10000) / 10000).alias("neg_cos"),
            (F.floor(F.col("p_cos") * 10000) / 10000).alias("pos_cos"),
            F.floor((F.col("p_cos") - F.col("cos")) * 10000)
            .cast("bigint")
            .alias("margin_e4"),
        )
        .orderBy("q_id", "rn")
    )


_HARD_NEG_SQL = """
WITH anchors AS (
    SELECT vec_id AS q_id, label AS q_label, embedding
    FROM embeddings WHERE vec_id < 10
),
scored AS (
    SELECT a.q_id, a.q_label, c.vec_id, c.label,
           list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
    FROM anchors a JOIN embeddings c ON c.vec_id <> a.q_id
),
negs AS (
    SELECT q_id, vec_id, label, cos,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rn
    FROM scored WHERE label <> q_label
),
pos AS (
    SELECT q_id, cos AS p_cos FROM (
        SELECT q_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
        FROM scored WHERE label = q_label
    ) WHERE rn = 1
)
SELECT n.q_id, n.vec_id AS neighbor_id, n.label AS neg_label, n.rn,
       floor(n.cos * 10000) / 10000 AS neg_cos,
       floor(p.p_cos * 10000) / 10000 AS pos_cos,
       CAST(floor((p.p_cos - n.cos) * 10000) AS BIGINT) AS margin_e4
FROM negs n LEFT JOIN pos p USING (q_id)
WHERE n.rn <= 3
ORDER BY q_id, rn
"""


# --- prototypicality pruning (SSL-prototypes / D4 family) ---------------------
#: fraction of each cluster pruned, in percent — the most PROTOTYPICAL
#: (closest-to-centroid) quarter, per Sorscher et al. 2022 ("Beyond
#: neural scaling laws"): with abundant data, easy prototypical
#: examples teach the least per token.
_PROTO_PRUNE_PCT = 25

#: past this many clusters the centroid table stops broadcasting and
#: the prototypicality join falls back to a label-keyed shuffle —
#: counted, not assumed (the dedup hot-vocab guard discipline).
_CENTROID_BROADCAST_MAX = 65_536


def sim_prototypicality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality PRUNING — the other embedding-curation axis
    from SemDeDup: ``dedup_semantic`` removes near-DUPLICATE pairs
    inside a cluster; this removes the most PROTOTYPICAL (closest to
    the cluster centroid) examples, the self-supervised-prototypes
    metric of Sorscher et al. 2022 that D4 (Tirumala et al. 2023)
    chains after dedup. Per cluster (the label column as the given
    quantizer, the sim_ivf_label precedent so the oracle can mirror
    the assignment): centroid = per-dim mean; prototypicality = cosine
    to own centroid; prune the top :data:`_PROTO_PRUNE_PCT`%. Output
    is one audit row per cluster — sizes and the kept/pruned
    prototypicality boundaries (floored to 1e-4, min/max only: order-
    insensitive, no cross-row float sums).

    Scale shape: one posexplode agg for centroids (shuffle keyed by
    (label, dim), rows = n·d), the join back BROADCAST only while the
    centroid table is COUNTED small (the hot-vocab guard discipline,
    dedup._hot_split: at 100 TB with 10⁵ clusters × 10³ dims ≈
    800 MB, the broadcast hint is dropped and the label-keyed shuffle
    join runs instead — correct at any k, just not
    broadcast-accelerated), and ONE rank window partitioned by label —
    the fattest partition is a cluster, never the corpus. The final
    audit agg rides the same label-keyed shuffle."""
    emb = _emb(spark, sf_dir)
    dims = emb.select("label", F.posexplode(F.col("v")).alias("dim", "x"))
    centroids = (
        dims.groupBy("label", "dim").agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("pairs"))
        .select("label", F.transform(F.col("pairs"), lambda p: p.m).alias("cv"))
    )
    if (
        centroids.limit(_CENTROID_BROADCAST_MAX + 1).count()
        <= _CENTROID_BROADCAST_MAX
    ):
        centroids = F.broadcast(centroids)
    proto = (
        emb.join(centroids, "label")
        .withColumn("proto", cosine(F.col("v"), F.col("cv")))
    )
    w = Window.partitionBy("label").orderBy(F.desc("proto"), "vec_id")
    ranked = (
        proto.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("label")))
        .withColumn(
            "pruned",
            F.col("rn") <= F.floor(F.col("n") * _PROTO_PRUNE_PCT / 100),
        )
    )
    m4 = lambda c: (F.floor(c * 10000)).cast("bigint")  # noqa: E731
    return (
        ranked.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("pruned").cast("long")).alias("n_pruned"),
            m4(F.max(F.when(~F.col("pruned"), F.col("proto"))))
            .alias("kept_max_m4"),
            m4(F.min(F.when(~F.col("pruned"), F.col("proto"))))
            .alias("kept_min_m4"),
            m4(F.max(F.when(F.col("pruned"), F.col("proto"))))
            .alias("pruned_max_m4"),
        )
        .orderBy("label")
    )


_PROTO_PRUNE_SQL = f"""
WITH centroids AS (
    SELECT label, list(m ORDER BY dim) AS cv
    FROM (
        SELECT label, dim, avg(x) AS m
        FROM (
            SELECT label,
                   generate_subscripts(embedding, 1) AS dim,
                   unnest(embedding::DOUBLE[]) AS x
            FROM embeddings
        )
        GROUP BY label, dim
    )
    GROUP BY label
),
proto AS (
    SELECT e.vec_id, e.label,
           list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS proto
    FROM embeddings e JOIN centroids c USING (label)
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY label
                              ORDER BY proto DESC, vec_id) AS rn,
           count(*) OVER (PARTITION BY label) AS n
    FROM proto
),
flagged AS (
    SELECT *, rn <= floor(n * {_PROTO_PRUNE_PCT} / 100.0) AS pruned
    FROM ranked
)
SELECT label,
       count(*) AS n_vecs,
       CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(floor(max(CASE WHEN NOT pruned THEN proto END) * 10000) AS BIGINT)
           AS kept_max_m4,
       CAST(floor(min(CASE WHEN NOT pruned THEN proto END) * 10000) AS BIGINT)
           AS kept_min_m4,
       CAST(floor(max(CASE WHEN pruned THEN proto END) * 10000) AS BIGINT)
           AS pruned_max_m4
FROM flagged
GROUP BY label
ORDER BY label
"""


QUERIES = {
    "sim_prototypicality_prune": sim_prototypicality_prune,
    "sim_hard_negatives": sim_hard_negatives,
    "emb_norm_profile": emb_norm_profile,
    "emb_quantize_int8": emb_quantize_int8,
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_ivf_label": sim_ivf_label,
    "sim_ivf_kmeans": sim_ivf_kmeans,
    "sim_ivf_assign": sim_ivf_assign,
    "sim_ivf_two_level_gate": sim_ivf_two_level_gate,
    "sim_ivf_sampled_purity": sim_ivf_sampled_purity,
    "sim_lsh_cosine": sim_lsh_cosine,
    "sim_lsh_recall": sim_lsh_recall,
    "dedup_semantic": dedup_semantic,
    "dedup_semantic_adaptive": dedup_semantic_adaptive,
    "sim_ivf_pq": sim_ivf_pq,
    "sim_pq_recall": sim_pq_recall,
    "emb_pca_power": emb_pca_power,
    "corpus_split_semantic_leakage": corpus_split_semantic_leakage,
    "emb_alignment_audit": emb_alignment_audit,
}

ORACLES = {
    "sim_prototypicality_prune": _PROTO_PRUNE_SQL,
    "sim_hard_negatives": _HARD_NEG_SQL,
    "dedup_semantic": _SEMANTIC_SQL,
    "dedup_semantic_adaptive": _SEM_ADAPT_SQL,
    "sim_ivf_pq": _IVF_PQ_SQL,
    "sim_pq_recall": _PQ_RECALL_SQL,
    "emb_pca_power": _pca_power_sql(),
    "corpus_split_semantic_leakage": _SPLIT_SEM_SQL,
    "emb_alignment_audit": _ALIGN_SQL,
    "emb_norm_profile": _NORM_SQL,
    "emb_quantize_int8": _QUANT_SQL,
    "sim_topk_bruteforce": _BRUTE_SQL,
    "sim_ivf_label": _IVF_SQL,
    "sim_ivf_kmeans": _ivf_kmeans_sql(),
    "sim_ivf_assign": _IVF_ASSIGN_SQL,
    "sim_ivf_two_level_gate": _IVF_ASSIGN_SQL,
    "sim_ivf_sampled_purity": _IVF_PURITY_SQL,
    "sim_lsh_cosine": _LSH_SQL,
    "sim_lsh_recall": _RECALL_SQL,
}
