"""K-means (Lloyd's) over an embedding column — the iterative-algorithm
pattern on DataFrames, and the production replacement for `ivf_index`'s
sampled centroids (`similarity.py` keeps the same two-frame contract).

Spark-first iteration shape:
  * centroids live on the DRIVER between iterations (k × dim floats — tiny);
    each assignment pass ships them in an Arrow kernel's closure, so
    assigning is a single NARROW projection (numpy argmin over k squared
    distances per Arrow batch) — no crossJoin, no shuffle.
  * the update step is one shuffle per iteration: posexplode the vector and
    average per (cluster, dimension) — shuffle rows = n·dim scalar partials
    with map-side combine, never a collect of member vectors.
  * k iterations = k chained jobs; the DataFrame lineage resets each
    iteration because centroids round-trip through the driver — no
    exponentially growing plan.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.hashing import sql_ident


# below this many estimated bytes a single task finishes the argmin pass
# faster than the repartition shuffle + 32-task scheduling it would buy
# (measured r8: the unconditional r7 guard doubled `semdedup` at sf0.1 —
# 2000 rows / 0.8 MB shuffled to 32 partitions cost ~2.7 s warm and saved
# nothing; at the 100x smoke, 80 MB in one footer, the spread is a 32x
# rescue. 8 MiB splits those regimes with an order of magnitude to spare
# on each side).
_SPREAD_FLOOR_BYTES = 8 << 20


_UNKNOWN_SIZE = 1 << 62  # "stats unavailable" sentinel: callers no-op


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the frame (for a parquet scan: the file
    bytes) — a partition-count signal that costs a driver-side plan walk,
    not the Python-RDD conversion `df.rdd.getNumPartitions()` pays.
    Unknown stats surface as Long.MaxValue-ish huge values, which the
    callers treat as 'already wide enough — do not touch'. The ``_jdf``
    queryExecution walk is a private API: if it is absent or raises
    (Spark Connect, API drift), degrade to the same 'unknown → do not
    touch' sentinel instead of failing mid-plan."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return _UNKNOWN_SIZE


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(raw, default: int = 134217728) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m', '1g',
    '128mb'). Digit-stripping (the r8 form) read '128m' as 128 BYTES,
    inflating est_parts and silently disabling the small-scan rescue."""
    s = str(raw).strip().lower().removesuffix("b")
    if s and s[-1] in _SIZE_SUFFIX:
        mult, s = _SIZE_SUFFIX[s[-1]], s[:-1]
    else:
        mult = 1
    try:
        return int(float(s)) * mult
    except ValueError:
        return default


def _spread_small_scan(
    df: DataFrame,
    est_bytes: int | None = None,
    work_multiplier: float = 1.0,
) -> DataFrame:
    """Repartition a NARROW-but-heavy input to the full pool, only when it
    pays: small-file inputs (one parquet footer under maxPartitionBytes)
    read as a single partition, which serializes the k×dim argmin — the
    expensive term exactly when the corpus or k is large. But
    the rescue is a full shuffle, so below ``_SPREAD_FLOOR_BYTES`` of
    estimated WORK (where one task wins anyway) and above
    ~maxPartitionBytes×parallelism of raw bytes (where the scan is
    already wide) this is the identity. A no-op at real scale — a 100 TB
    corpus has partitions ≫ cores.

    ``work_multiplier`` scales the floor comparison for callers whose
    per-row cost exceeds the k=8 argmin baseline the floor was measured
    against: the r8 30× re-measure caught the bytes-only gate leaving a
    0.8 MB fit SAMPLE carrying k=240 on one task (81× — the exact
    serialization the guard exists to prevent; with the multiplier the
    sample spreads again). The already-wide check stays on RAW bytes —
    partition count is byte-driven regardless of per-row cost."""
    sc = df.sparkSession.sparkContext
    size = _plan_size_bytes(df) if est_bytes is None else est_bytes
    if size * max(1.0, work_multiplier) < _SPREAD_FLOOR_BYTES:
        return df
    raw = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    max_pb = _parse_bytes(raw)
    est_parts = -(-size // max(1, max_pb))
    if est_parts >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def _dlit(x: float) -> str:
    """SQL double-literal text that parses back to the same IEEE double:
    repr() is the shortest round-trip decimal and Java's parseDouble is
    correctly rounded, so value equality is exact. The 'D' suffix keeps the
    parser from reading '0.1' as DECIMAL(1,1)."""
    x = float(x)
    if x != x:
        return "double('NaN')"
    if x == float("inf"):
        return "double('Infinity')"
    if x == float("-inf"):
        return "double('-Infinity')"
    return repr(x) + "D"


def _sqdist_sql(vec_sql: str, centroid: list[float]) -> str:
    """Squared L2 distance from an array column to one centroid as SQL
    text (`prototype_prune`'s distance column): per-dimension
    (a−b)·(a−b) accumulated in index order — a sequential left fold in
    doubles. Building the centroid literal through the Column DSL cost
    one py4j round trip PER ELEMENT (64-dim × k centroids measured at
    seconds of pure driver chatter); one parsed expression string is
    ~100× cheaper (value parity with a sequential Python fold is pinned
    by test)."""
    arr = "array(" + ",".join(_dlit(x) for x in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def assign_clusters(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """df + `cluster` column = argmin squared distance (ties → lowest id).

    One Arrow-batched numpy kernel: no extra rows, no shuffle, and a plan
    that does not grow with k (an expression unrolled per centroid made
    the per-iteration plan build dominate `kmeans_fit` at FAISS-sized k,
    and its folds ran interpreted). Distances are `_np_fold_sqdist`'s
    sequential left fold — the doubles of `_sqdist_sql` and of the DuckDB
    oracles — and argmin returns the first minimum, i.e. the lowest
    centroid id on ties."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    cen_np = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        x = _np_vectors(vs, cen_np.shape[1])
        out = np.empty(x.shape[0], dtype=np.int32)
        # row-chunked so the (rows x k) fold intermediate stays bounded
        # whatever the Arrow batch size
        step = max(1, 25_000_000 // max(1, len(cen_np)))
        for lo in range(0, x.shape[0], step):
            d2 = _np_fold_sqdist(x[lo : lo + step], cen_np)
            out[lo : lo + step] = d2.argmin(axis=1)
        return pd.Series(out)

    return df.withColumn("cluster", _assign(F.col(vec_col)))


def _np_folds():
    """The numpy helpers the Arrow kernels run on Python workers, returned
    as (vectors, fold_sqdist, fold_cosine). They are nested functions on
    purpose: cloudpickle ships a function whose qualified name cannot be
    imported (a ``<locals>`` name) by value, so a worker runs them without
    importing this package — its sys.path need not contain the checkout
    when the driver was launched from another working directory."""
    import numpy as np

    def vectors(vs, dim):
        """An Arrow batch of vectors as a (rows, dim) float64 matrix —
        (0, dim) for an empty batch. Any other shape raises: a kernel must
        never slice or broadcast a wrong-dimension vector into a silently
        wrong answer."""
        if not len(vs):
            return np.empty((0, dim), dtype=np.float64)
        x = np.asarray(vs.tolist(), dtype=np.float64)
        if x.ndim != 2 or x.shape[1] != dim:
            raise ValueError(
                f"expected {dim}-dim vectors, got a batch of shape {x.shape}"
            )
        return x

    def fold_sqdist(x, cen):
        """(rows, k) squared distances with `_sqdist_sql`'s exact float
        discipline: per-dimension (a−b)·(a−b) accumulated in index order
        (a sequential left fold), so the kernels agree with the Spark SQL
        fold and the DuckDB oracles to the last ulp. Intermediate stays
        (rows × k) — never (rows × k × d)."""
        out = np.zeros((x.shape[0], cen.shape[0]), dtype=np.float64)
        diff = np.empty_like(out)
        for j in range(x.shape[1]):
            np.subtract(x[:, j : j + 1], cen[None, :, j], out=diff)
            diff *= diff
            out += diff
        return out

    def fold_cosine(x, cen):
        """(rows, k) cosines with the `dedup.dot_expr`/`norm_expr`
        discipline: dots and squared norms are sequential left folds in
        index order, then dot / (|x|·|c|) — the same IEEE ops in the same
        order as the Spark SQL folds and the DuckDB oracles. A zero-norm
        side yields NaN (SQL: null)."""
        xn = np.zeros(x.shape[0])
        cn = np.zeros(cen.shape[0])
        dots = np.zeros((x.shape[0], cen.shape[0]))
        prod = np.empty_like(dots)
        for j in range(x.shape[1]):
            xn += x[:, j] * x[:, j]
            cn += cen[:, j] * cen[:, j]
            np.multiply(x[:, j : j + 1], cen[None, :, j], out=prod)
            dots += prod
        with np.errstate(divide="ignore", invalid="ignore"):
            return dots / (np.sqrt(xn)[:, None] * np.sqrt(cn)[None, :])

    return vectors, fold_sqdist, fold_cosine


_np_vectors, _np_fold_sqdist, _np_fold_cosine = _np_folds()


def assign_clusters_ivf(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    n_probe: int = 2,
) -> DataFrame:
    """df + `cluster` column via TWO-LEVEL (IVF-style) routing: argmin over
    ~√k coarse centroids first, then argmin over only the fine centroids
    of the ``n_probe`` nearest coarse cells — the standard coarse-quantizer
    trick for k ∝ corpus-size assignment (SemDeDup's web-scale k is tens
    of thousands; a flat argmin there is the O(N·k) residual this
    replaces).

    Construction: coarse centroids = k-means over the FINE CENTROIDS
    themselves, run entirely on the driver (k rows — trivially small).
    Routing is one Arrow-batched numpy kernel (no shuffle, no join):
    coarse argsort (stable → ties to the lowest cell), fine distances
    masked to the probed cells' members, argmin (first minimum = lowest
    fine index), all with `_np_fold_sqdist`'s sequential-fold doubles.
    APPROXIMATE by construction: a vector near a cell boundary can route
    to a different (near-equidistant) fine centroid than the flat argmin —
    raise ``n_probe`` to trade compute for agreement.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    k = len(centroids)
    n_coarse = max(1, int(round(k ** 0.5)))
    coarse = _kmeans_driver(centroids, n_coarse)
    cells: dict[int, list[int]] = {c: [] for c in range(len(coarse))}
    for i, fc in enumerate(centroids):
        cells[_argmin_driver(fc, coarse)].append(i)
    # drop EMPTY coarse cells before routing: stale/duplicate fine
    # centroids can leave a coarse centroid owning nothing, and a probe set
    # landing only on empty cells would mask every fine distance to +inf —
    # argmin would then lump unrelated vectors into fine centroid 0. Every
    # fine centroid belongs to some cell, so at least one survives.
    live = [c for c in range(len(coarse)) if cells[c]]
    coarse = [coarse[c] for c in live]
    cells = {new: cells[old] for new, old in enumerate(live)}
    n_probe = max(1, min(n_probe, len(coarse)))

    live_coarse = np.asarray(coarse, dtype=np.float64)
    cen_np = np.asarray(centroids, dtype=np.float64)
    cell_of_fine = np.empty(k, dtype=np.int64)
    for c, members in cells.items():
        for i in members:
            cell_of_fine[i] = c

    @pandas_udf("int")
    def _route(vs: pd.Series) -> pd.Series:
        x = _np_vectors(vs, cen_np.shape[1])
        out = np.empty(x.shape[0], dtype=np.int32)
        step = max(1, 25_000_000 // max(1, k))
        for lo in range(0, x.shape[0], step):
            blk = x[lo : lo + step]
            d2c = _np_fold_sqdist(blk, live_coarse)
            probed = np.argsort(d2c, axis=1, kind="stable")[:, :n_probe]
            d2f = _np_fold_sqdist(blk, cen_np)
            allowed = (
                cell_of_fine[None, :, None] == probed[:, None, :]
            ).any(-1)
            d2f[~allowed] = np.inf
            out[lo : lo + step] = d2f.argmin(axis=1)
        return pd.Series(out)

    return df.withColumn("cluster", _route(F.col(vec_col)))


def _argmin_driver(vec: list[float], centroids: list[list[float]]) -> int:
    return min(
        range(len(centroids)),
        key=lambda i: sum((a - b) ** 2 for a, b in zip(vec, centroids[i])),
    )


def _kmeans_driver(
    points: list[list[float]], k: int, n_iters: int = 10
) -> list[list[float]]:
    """Plain-Python Lloyd's over a driver-resident point set (used for the
    coarse quantizer: the points ARE the fine centroids, k of them).
    Deterministic: init = every ceil(n/k)-th point of the input order."""
    step = max(1, len(points) // k)
    cents = [points[i * step] for i in range(min(k, len(points)))]
    for _ in range(n_iters):
        groups: dict[int, list[list[float]]] = {i: [] for i in range(len(cents))}
        for p in points:
            groups[_argmin_driver(p, cents)].append(p)
        cents = [
            [sum(col) / len(col) for col in zip(*grp)] if grp else cents[i]
            for i, grp in groups.items()
        ]
    return cents


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    n_iters: int = 5,
    id_col: str = "vec_id",
    fit_fraction: float | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's algorithm; returns (centroids, df + cluster assignment).

    Init is deterministic AND spread: the k vectors whose md5(id) sorts
    lowest — i.e. a deterministic uniform sample (k lowest ids would often
    all fall in one region — classic bad-init collapse). Runs as
    TakeOrderedAndProject (per-partition heaps), no global sort, stable
    across runs/partitionings. Empty clusters keep their previous centroid.

    ``fit_fraction`` fits the centroids on a deterministic md5-bucket
    sample of the corpus (the web-scale discipline: Lloyd's passes cost
    O(sample·k·iters) instead of O(N·k·iters); only the single final
    assignment sees every row) — stable under reruns and repartitioning,
    unlike ``df.sample``.

    Every assignment pass (the n_iters Lloyd's passes and the final one)
    is :func:`assign_clusters`' Arrow kernel, whose sequential-fold
    distances are what the DuckDB oracle's unrolled CTEs replay.
    """
    # size-gated spread (r8 — see _spread_small_scan: the unconditional r7
    # guard cost more than it saved on small benches); the work multiplier
    # is k relative to the k=8 baseline the floor was measured at
    src_bytes = _plan_size_bytes(df)
    df = _spread_small_scan(df, est_bytes=src_bytes, work_multiplier=k / 8.0)
    # the iteration re-reads df n_iters+2 times (init, updates, final
    # assignment) — cache the projected columns once; Spark spills cached
    # partitions at scale, and only (id, vec) is held, not the full row
    work = df.select(F.col(id_col), F.col(vec_col))
    if fit_fraction is not None:
        from etl_edi_data_scrapper_spark.functions.hashing import hex_word

        pct = max(1, min(100, int(round(fit_fraction * 100))))
        work = work.filter(
            hex_word(F.md5(F.col(id_col).cast("string")), 1) % 100 < pct
        )
        # the filtered sample inherits the scan's partitioning and AQE
        # happily coalesces it to ~1 partition — which serializes every
        # Lloyd's pass (the k×dim argmin is the expensive
        # part precisely when fit_fraction is in play, i.e. k is large).
        # One tiny shuffle of the sample rows buys full-pool parallelism;
        # values are unaffected (init is md5-ordered, means are
        # associative DECIMAL sums — both partitioning-independent).
        # Size-gated like the parent: sample bytes ≈ parent × pct/100
        # (Catalyst's post-filter stats would guess a selectivity; we
        # know the exact md5-bucket fraction). The k multiplier is what
        # keeps the fit_fraction regime spread: the sample is small in
        # BYTES precisely when k is large (k ∝ N, sample ∝ 1/factor).
        work = _spread_small_scan(
            work, est_bytes=src_bytes * pct // 100, work_multiplier=k / 8.0
        )
    work = work.persist()
    init = (
        work.orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = [list(map(float, r[0])) for r in init]
    if not centroids:
        work.unpersist()
        raise ValueError(
            f"kmeans_fit: the fit sample is empty (fit_fraction="
            f"{fit_fraction!r} over {id_col!r}) — raise fit_fraction or "
            "fit on the full frame"
        )
    # a sparse sample can yield fewer than k init vectors; clamp k so the
    # update loop never indexes past the centroids it actually has
    k = min(k, len(centroids))
    for _ in range(n_iters):
        assigned = assign_clusters(work, vec_col, centroids)
        # exact mean: DECIMAL partial sums are associative/order-independent
        # (a float avg would differ run-to-run with partitioning — and
        # against any external replica), final cast + divide in double
        rows = (
            assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast("double").cast("decimal(28,10)"))
                    .cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .collect()
        )
        new = {c: dict() for c in range(k)}
        for r in rows:
            new[r.cluster][r.pos] = r.m
        centroids = [
            [new[c][p] for p in sorted(new[c])] if new[c] else centroids[c]
            for c in range(k)
        ]
    work.unpersist()
    return centroids, assign_clusters(df, vec_col, centroids)


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iters: int = 3,
    threshold: float = 0.3,
    fit_fraction: float | None = None,
    ivf_probe: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): cluster-then-dedup over embeddings —
    k-means partitions the space, then near-duplicate pairs are searched
    only WITHIN each cluster, so the pair count is Σ cluster² instead of
    N² (the same blocked-pairs discipline as `dedup.embedding_near_pairs`,
    with the blocks LEARNED from the data instead of taken from a label).
    A vector is dropped when a lower-id vector in its cluster sits within
    ``threshold`` cosine — one representative per semantic duplicate set.

    Scale: k-means cost is n_iters narrow Arrow argmin passes (centroids
    are bounded driver state, k×dim); the within-cluster self-join is the
    only quadratic term and k is the knob that caps it (SemDeDup's paper
    setting uses k in the tens of thousands at web scale precisely so
    clusters stay self-joinable). Deterministic end-to-end: md5-ordered
    init + exact DECIMAL means + sequential-fold cosine.

    The two web-scale knobs (r6 — both default OFF so the gate query
    stays exact): ``fit_fraction`` fits centroids on a deterministic
    md5-bucket sample (Lloyd's passes cost O(sample·k·iters), only the
    final assignment is full-corpus), and ``ivf_probe`` routes that final
    assignment through the two-level coarse quantizer
    (`assign_clusters_ivf`: O(√k + probe·k/√k) per row instead of O(k) —
    the residual flat-argmin cost k ∝ N would otherwise reintroduce).
    Blocking stays conservative either way: an approximately-routed
    vector still gets verified only against its own cluster.

    Returns (id, cluster, n_dupped_by, keep).
    """
    from etl_edi_data_scrapper_spark.functions.dedup import embedding_near_pairs

    if ivf_probe is not None:
        centroids, _ = kmeans_fit(
            df, vec_col=vec_col, k=k, n_iters=n_iters, id_col=id_col,
            fit_fraction=fit_fraction,
        )
        # same size-gated spread as kmeans_fit: the routed assignment is
        # the O(N·√k) term — its per-row cost vs the k=8 flat baseline is
        # √k·(1 + probe)/8, which the multiplier carries so a
        # small-in-bytes frame with a large k still spreads
        routed_ops = (len(centroids) ** 0.5) * (1 + ivf_probe)
        df = _spread_small_scan(df, work_multiplier=routed_ops / 8.0)
        assigned = assign_clusters_ivf(df, vec_col, centroids, n_probe=ivf_probe)
    else:
        _, assigned = kmeans_fit(
            df, vec_col=vec_col, k=k, n_iters=n_iters, id_col=id_col,
            fit_fraction=fit_fraction,
        )
    blocked = assigned.select(
        F.col(id_col), F.col(vec_col), F.col("cluster").cast("long").alias("cluster")
    )
    # the assignment (k argmin distance folds over the corpus) feeds both
    # the self-join and the final verdict join — cut the recompute and the
    # lineage in one move (same discipline as winnowing_shared_pairs)
    blocked = blocked.localCheckpoint(eager=False)
    pairs = embedding_near_pairs(
        blocked,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cluster",
        threshold=threshold,
    )
    cnt = pairs.groupBy("b").agg(F.count(F.lit(1)).alias("_n"))
    return (
        blocked.select(id_col, "cluster")
        .join(cnt, F.col(id_col) == F.col("b"), "left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_dupped_by"),
            (F.coalesce("_n", F.lit(0)) == 0).alias("keep"),
        )
    )


def prototype_prune(
    assigned: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
    keep_frac: float = 0.5,
    hardest: bool = True,
    coarse_width: int = 1 << 20,
) -> DataFrame:
    """Prototype-based data pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws"): score each example by squared distance to its assigned
    cluster centroid (the self-supervised prototype metric) and keep the
    ``keep_frac`` HARDEST (farthest — the abundant-data regime) or easiest
    (nearest — the scarce-data regime, ``hardest=False``) per cluster.
    Adds ``dist_micro`` (floor(1e6 * squared distance) — arithmetic only,
    no transcendental, so cross-engine bit-stable) and boolean
    ``proto_keep``. Selection is exact: the keep set equals rank <=
    ceil(keep_frac * cluster_n) under the total order
    (dist desc-or-asc, id asc).

    Scale shape — per-cluster top-fraction WITHOUT a per-cluster sort: a
    window over ``cluster`` has parallelism k and sorts N/k rows per task,
    the classic skew cliff when k is small. Instead:

      1. one narrow projection computes the distance (chained CASE on the
         assigned id — only the matched branch evaluates),
      2. one groupBy((cluster, dist_micro div coarse_width)) count — the
         coarse histogram, at most k x (value range / width) rows,
         collected to the driver (bounded by the VALUE RANGE, not N),
      3. the per-cluster cumulative walk on the driver yields, per
         cluster, the boundary bucket and its remaining slots; every row
         outside its boundary bucket is decided by a literal CASE,
      4. only boundary-bucket rows (≈ N / (k x buckets)) pay an exact
         rank window, partitioned by cluster AND restricted to that thin
         slice.

    The union of (3) and (4) reproduces the full-sort spec exactly because
    the coarse bucket is a monotone function of the rank key.
    """
    import math

    from pyspark.sql import Window

    # one parsed expression instead of per-element py4j DSL calls — same
    # tree, same values (see _sqdist_sql); construction cost only
    vec_sql, cl_sql = sql_ident(vec_col), sql_ident(cluster_col)
    dist_sql = "CAST(NULL AS DOUBLE)"
    for i, c in enumerate(centroids):
        dist_sql = (
            f"CASE WHEN {cl_sql} = {i} THEN {_sqdist_sql(vec_sql, c)} "
            f"ELSE {dist_sql} END"
        )
    dist = F.expr(dist_sql)
    df = assigned.withColumn(
        "dist_micro", F.floor(dist * F.lit(1_000_000.0)).cast("long")
    ).withColumn("__coarse", F.floor(F.col("dist_micro") / F.lit(coarse_width)))
    # the distance projection (k chained CASE folds over the vector) feeds
    # the histogram AND both output branches — cut the triple recompute and
    # the lineage in one move (same discipline as semantic_dedup)
    df = df.localCheckpoint(eager=False)

    hist = df.groupBy(cluster_col, "__coarse").count().collect()
    by_cluster: dict = {}
    for r in hist:
        if r["__coarse"] is None:
            # a cluster id outside [0, len(centroids)) leaves the distance
            # CASE NULL — surface it here (bounded driver rows) instead of
            # a TypeError deep in the sorted() boundary walk below
            raise ValueError(
                f"prototype_prune: rows with {cluster_col}={r[cluster_col]!r} "
                f"do not index into the {len(centroids)} centroids given — "
                "re-assign before pruning (IVF -1 sentinels must be filtered)"
            )
        by_cluster.setdefault(r[cluster_col], []).append((r["__coarse"], r["count"]))
    # boundary[c] = (boundary bucket, slots left inside it); None = keep all
    boundary: dict = {}
    for c, buckets in by_cluster.items():
        n = sum(cnt for _, cnt in buckets)
        n_keep = int(math.ceil(keep_frac * n))
        cum = 0
        boundary[c] = None
        for b, cnt in sorted(buckets, reverse=hardest):
            if cum + cnt >= n_keep:
                boundary[c] = (b, n_keep - cum)
                break
            cum += cnt
        # n_keep >= n leaves boundary None only when the loop exhausted
        # without reaching n_keep — possible solely for keep_frac >= 1

    b_case = F.lit(None).cast("long")
    r_case = F.lit(0).cast("long")
    for c, bnd in boundary.items():
        if bnd is None:
            continue
        b_case = F.when(F.col(cluster_col) == c, F.lit(bnd[0])).otherwise(b_case)
        r_case = F.when(F.col(cluster_col) == c, F.lit(bnd[1])).otherwise(r_case)
    df = df.withColumn("__b", b_case).withColumn("__r", r_case)

    outside = (
        F.col("__b").isNull()  # keep_frac >= 1: whole cluster keeps
        | (F.col("__coarse") > F.col("__b") if hardest else F.col("__coarse") < F.col("__b"))
    )
    on_boundary = F.col("__b").isNotNull() & (F.col("__coarse") == F.col("__b"))
    rest = df.filter(~on_boundary).withColumn("proto_keep", outside)
    order = (
        [F.desc("dist_micro"), F.asc(id_col)]
        if hardest
        else [F.asc("dist_micro"), F.asc(id_col)]
    )
    w = Window.partitionBy(cluster_col).orderBy(*order)
    bnd_rows = (
        df.filter(on_boundary)
        .withColumn("proto_keep", F.row_number().over(w) <= F.col("__r"))
    )
    return rest.unionByName(bnd_rows).drop("__coarse", "__b", "__r")


def semantic_dedup_sharded(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rows_per_shard: int = 65536,
    n_shards: int | None = None,
    k_per_shard: int = 8,
    n_iters: int = 3,
    threshold: float = 0.3,
    seed: int = 0,
) -> DataFrame:
    """Shard-bounded SemDeDup — the linear-total 1000× deployment shape.

    ``semantic_dedup`` with the paper's k ∝ N contract has an inherent
    O(N·√k) = N^1.5 assignment term even through the IVF router (measured
    and documented in SCALE.md). The production answer at extreme scale is
    to BOUND the problem instead of growing k: hash-shard the corpus into
    ~``rows_per_shard``-sized shards, run the whole cluster-then-dedup
    inside each shard, and accept that cross-shard semantic duplicates
    survive (two passes with different shard seeds shrink that residue;
    production pipelines make the same trade — this is answer (a) in
    SCALE.md's SemDeDup asymptote note, now wired instead of documented).

    Physical shape: ONE shuffle (hash on md5(id) → shard), then
    ``groupBy(shard).applyInPandas`` — each shard is an independent task
    doing vectorized numpy Lloyd's + blocked within-cluster cosine, so
    total work is linear in N and parallelism equals the shard count.
    Per-task memory is bounded by construction: rows_per_shard × dim
    doubles for the matrix, and the pairwise pass runs in 1024-row blocks
    (never materializes a cluster² matrix). Deterministic end-to-end:
    shard routing and init are md5-derived, shard-local math is fixed-order
    numpy float64.

    ``n_shards`` may be given explicitly (a planner that knows N avoids
    the count); otherwise one count() job sizes it. ``seed`` perturbs the
    shard routing (seed=0 keeps the plain md5(id) route): two passes with
    different seeds give a cross-shard duplicate two independent chances
    to land in one shard — see ``semantic_dedup_sharded_multipass``.

    Returns (id_col, shard, cluster, n_dupped_by, keep) — `cluster` is
    shard-local; `keep` = no lower-id neighbor with cosine ≥ ``threshold``
    in the same shard-local cluster. ``threshold`` is a similarity FLOOR,
    exactly as in ``semantic_dedup``/``embedding_near_pairs`` (0.95-ish
    for near-identical vectors; the shared 0.3 default mirrors the gate
    query). Ids may be any orderable type ("lower id" = the column's
    natural order; the output preserves the input id type). Rows with a
    NULL vector are dropped up front (a NULL cannot be a duplicate of
    anything; crashing a whole shard task on one bad row is the
    alternative) — route them to a cleanup pass, not a dedup pass.
    """
    import pandas as pd

    df = df.filter(F.col(vec_col).isNotNull())
    if n_shards is None:
        n_shards = max(1, -(-df.count() // rows_per_shard))
    # route on md5(id), not raw id: sequential/strided id spaces (every
    # real ingest) would otherwise land correlated rows in one shard
    from etl_edi_data_scrapper_spark.functions.hashing import hex_word

    route_key = (
        F.col("__id").cast("string")
        if seed == 0
        else F.concat(F.col("__id").cast("string"), F.lit(f"#{int(seed)}"))
    )
    src = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).withColumn(
        "shard",
        (hex_word(F.md5(route_key), 1) % n_shards).cast("int"),
    )

    k_shard, iters, thr = int(k_per_shard), int(n_iters), float(threshold)

    def _dedup_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        shard = int(pdf["shard"].iloc[0])
        order = np.argsort(pdf["__id"].to_numpy(), kind="stable")
        ids = pdf["__id"].to_numpy()[order]
        x = np.stack(pdf["__vec"].to_numpy()[order]).astype(np.float64)
        n = len(ids)
        k = max(1, min(k_shard, n))
        # deterministic spread init, same spirit as kmeans_fit: k rows
        # whose md5(id) sorts lowest (id order alone would cluster-collapse)
        import hashlib

        md5s = np.array(
            [hashlib.md5(str(i).encode()).hexdigest() for i in ids]
        )
        cent = x[np.argsort(md5s, kind="stable")[:k]].copy()
        for _ in range(iters):
            # algebraic n×k distances — never an n×k×dim tensor
            d = (
                (x * x).sum(1)[:, None]
                - 2.0 * (x @ cent.T)
                + (cent * cent).sum(1)[None, :]
            )
            a = d.argmin(1)
            for c in range(k):
                m = a == c
                if m.any():
                    cent[c] = x[m].mean(0)
        d = (
            (x * x).sum(1)[:, None]
            - 2.0 * (x @ cent.T)
            + (cent * cent).sum(1)[None, :]
        )
        a = d.argmin(1).astype(np.int32)

        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0
        xn = x / norms[:, None]
        n_dup = np.zeros(n, dtype=np.int64)
        cos_floor = thr  # similarity FLOOR, same rule as embedding_near_pairs
        for c in np.unique(a):
            idx = np.flatnonzero(a == c)  # ascending id within cluster
            m = len(idx)
            if m < 2:
                continue
            xc = xn[idx]
            for lo in range(0, m, 1024):  # blocked: never cluster² at once
                hi = min(lo + 1024, m)
                sims = xc[lo:hi] @ xc.T  # (block, m)
                # count strictly-lower-position (== lower-id) neighbors
                col = np.arange(m)[None, :]
                row = np.arange(lo, hi)[:, None]
                n_dup[idx[lo:hi]] = (
                    (sims >= cos_floor) & (col < row)
                ).sum(1)
        return pd.DataFrame(
            {
                "__id": ids,
                "shard": np.full(n, shard, dtype=np.int32),
                "cluster": a,
                "n_dupped_by": n_dup,
                "keep": n_dup == 0,
            }
        )

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"__id {id_type}, shard int, cluster int, n_dupped_by long, keep boolean"
    )
    return (
        src.groupBy("shard")
        .applyInPandas(_dedup_shard, schema=out_schema)
        .withColumnRenamed("__id", id_col)
    )


def expected_missed_frac(n_shards: int, n_passes: int, family_size: int) -> float:
    """The validated collision model for shard-bounded multi-pass SemDeDup
    (SEMDEDUP_QUALITY_r08.json matched it to three decimals): a duplicate
    family of ``family_size`` near-identical members has, for its rank-j
    member (j lower-id siblings), per-pass miss probability ≈
    (1 − 1/S)^j — no lower-id sibling routed to its shard — and passes
    use independent seeds, so over p passes the member survives detection
    with probability (1 − 1/S)^(j·p). The expected missed fraction of
    TRUE duplicates (ranks 1..f−1) is the average over j.

    Slightly conservative in practice: real passes re-shard only the
    SURVIVORS, so effective S shrinks as rows drop (measured r8: model
    0.5008 vs observed 0.4817 at S=20, f=10, p=3)."""
    S, p, f = int(n_shards), int(n_passes), int(family_size)
    if S <= 1:
        return 0.0
    if f < 2:
        return 0.0  # no true duplicates to miss
    q = 1.0 - 1.0 / S
    return sum(q ** (j * p) for j in range(1, f)) / (f - 1)


def plan_shard_geometry(
    n_rows: int,
    family_size: int,
    target_missed_frac: float,
    max_rows_per_shard: int = 262144,
    max_passes: int = 6,
) -> tuple[int, int]:
    """Solve the collision model for the cheapest sharded-SemDeDup
    geometry hitting ``target_missed_frac``: for each pass count (fewer
    passes = fewer full jobs), find the LARGEST shard count S (smallest
    shards = least within-shard work and memory) with
    ``expected_missed_frac(S, p, family_size) <= target``, and take the
    first whose rows_per_shard fits the ``max_rows_per_shard`` memory
    bound. Returns (rows_per_shard, n_passes).

    Raises when no geometry within the bounds reaches the target — the
    actionable fix is the LSH bridge (``bridge_tables=`` in
    :func:`semantic_dedup_sharded_multipass`), which converts the
    geometric residue into LSH-recall residue at linear cost."""
    if not 0.0 < target_missed_frac < 1.0:
        raise ValueError("target_missed_frac must be in (0, 1)")
    n_rows = max(1, int(n_rows))
    for p in range(1, int(max_passes) + 1):
        if expected_missed_frac(2, p, family_size) > target_missed_frac:
            # even 2 shards miss too much at this pass count; S=1 (a single
            # shard) is exact but only admissible if the whole corpus fits
            if n_rows <= max_rows_per_shard:
                return n_rows, p
            continue
        lo, hi = 2, n_rows  # invariant: missed(lo) <= target
        while lo < hi:  # largest S meeting the target (missed grows with S)
            mid = (lo + hi + 1) // 2
            if expected_missed_frac(mid, p, family_size) <= target_missed_frac:
                lo = mid
            else:
                hi = mid - 1
        rows_per_shard = -(-n_rows // lo)
        if rows_per_shard <= max_rows_per_shard:
            return rows_per_shard, p
    raise ValueError(
        f"plan_shard_geometry: no geometry with rows_per_shard <= "
        f"{max_rows_per_shard} and n_passes <= {max_passes} reaches "
        f"missed_frac <= {target_missed_frac} for family_size="
        f"{family_size} over {n_rows} rows — raise the bounds, or use "
        "the LSH bridge (bridge_tables=2) which catches cross-shard "
        "duplicates at linear cost"
    )


def estimate_family_size(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int | None = None,
) -> float:
    """Duplication-profile probe for the geometry planner: bucket the
    corpus on one hyperplane-LSH signature and return the expected bucket
    size of a RANDOM ROW, Σ size² / Σ size — for near-identical replica
    families (the SemDeDup regime) a bucket ≈ a family, so this estimates
    the family size a random member belongs to. Boundary-plane splits
    bias it slightly LOW, which is the conservative direction for
    :func:`plan_shard_geometry` (smaller family ⇒ higher predicted miss
    ⇒ more aggressive geometry). One (signature) shuffle, one scalar out."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        hyperplane_signature,
    )

    if dim is None:
        dim = int(df.select(F.size(F.col(vec_col))).first()[0])
    sizes = (
        df.select(hyperplane_signature(vec_col, n_planes, dim).alias("sig"))
        .groupBy("sig")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    row = sizes.agg(
        (F.sum(F.col("sz") * F.col("sz")) / F.sum("sz")).alias("fam")
    ).first()
    return float(row["fam"])


def cross_shard_bridge_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 16,
    n_tables: int = 2,
    max_block: int | None = 256,
    dim: int | None = None,
) -> DataFrame:
    """Cross-shard candidate generator for sharded SemDeDup: bucket the
    WHOLE corpus on ``n_tables`` independent random-hyperplane signatures
    (disjoint md5-derived plane sets via ``plane_offset``) and verify
    exact cosine ≥ ``threshold`` within each bucket — shard routing never
    enters, so a duplicate pair split across shards still collides here
    whenever any table's signature agrees. Near-identical vectors (the
    SemDeDup regime, cos ≥ 0.9 ⇒ per-plane agreement ≥ 1 − θ/π ≈ 0.86,
    ≈ 0.995 at cos 0.999) collide with probability
    1 − (1 − agree^n_planes)^n_tables — the recall dial.

    Precision is structurally 1.0 (every emitted pair is exact-verified),
    so unioning these pairs into the sharded verdict preserves its
    subset-of-truth property. Cost: n_tables blocked self-joins whose
    shuffle carries (id, vec, signature); ``max_block`` is the standard
    saturation guard (deterministic lowest-id truncation per bucket).

    Returns (a, b, cosine) with a < b, distinct across tables.
    """
    from etl_edi_data_scrapper_spark.functions.dedup import embedding_near_pairs

    if dim is None:
        dim = int(df.select(F.size(F.col(vec_col))).first()[0])
    out = None
    for t in range(int(n_tables)):
        sig = hyperplane_signature_table(
            vec_col, n_planes, dim, table=t
        )
        blocked = df.select(F.col(id_col), F.col(vec_col)).withColumn("__sig", sig)
        pairs = embedding_near_pairs(
            blocked,
            id_col=id_col,
            vec_col=vec_col,
            block_col="__sig",
            threshold=threshold,
            max_block=max_block,
        )
        out = pairs if out is None else out.unionByName(pairs)
    # the same pair can collide in several tables; cosine is deterministic
    # per pair, so max() just picks the one value
    return out.groupBy("a", "b").agg(F.max("cosine").alias("cosine"))


def hyperplane_signature_table(vec, n_planes: int, dim: int, table: int):
    """Table t draws planes [t·n_planes, (t+1)·n_planes) — disjoint from
    every other table's set, so table misses are independent."""
    from etl_edi_data_scrapper_spark.functions.similarity import (
        hyperplane_signature,
    )

    return hyperplane_signature(vec, n_planes, dim, plane_offset=table * n_planes)


def semantic_dedup_sharded_multipass(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_passes: int = 2,
    bridge_tables: int = 0,
    bridge_planes: int = 16,
    bridge_max_block: int | None = 256,
    target_missed_frac: float | None = None,
    family_size_hint: int | None = None,
    max_rows_per_shard: int = 262144,
    **kwargs,
) -> DataFrame:
    """Multi-pass shard-bounded SemDeDup: shrink the cross-shard residue.

    One sharded pass misses duplicate pairs whose members route to
    different shards (probability ≈ 1 - 1/n_shards per pair). Re-running
    on the SURVIVORS with a different shard seed gives every surviving
    pair an independent chance to collide into one shard, so the expected
    missed fraction decays geometrically with the pass count while total
    cost stays ≤ n_passes × linear (each pass runs on a shrinking frame).
    This is the standard production compromise between one-shot sharding
    and the N^1.5 global k ∝ N contract.

    Recall is a KNOB, not a footnote (r9 — at the r8 measured geometry,
    3 passes still missed 48% of true duplicates). Two levers, composable:

    * ``target_missed_frac`` — auto-size the geometry: probe the
      duplication profile (:func:`estimate_family_size`, unless
      ``family_size_hint`` is given) and solve the exactly-validated
      (1−1/S)^(j·p) collision model (:func:`plan_shard_geometry`) for
      the cheapest (rows_per_shard, n_passes) meeting the target under
      the ``max_rows_per_shard`` memory bound. Overrides any explicit
      ``rows_per_shard``/``n_passes``.
    * ``bridge_tables`` > 0 — the LSH bridge: run
      :func:`cross_shard_bridge_pairs` over the FULL corpus once, up
      front; every row with an exact-verified lower-id neighbor is
      dropped with ``pass_dropped = -1`` before pass 0, converting the
      geometric residue into LSH-recall residue (for near-identical
      replicas, sub-1% at 2 tables × 16 planes) at linear cost.
      Precision stays structurally 1.0: bridge drops are exact-cosine
      verified, so the verdict remains a subset of the global truth.

    Each pass drops rows verdicted keep=false; ``pass_dropped`` records
    which pass removed a row (−1 = the bridge, NULL = survived all
    passes, keep=true). `cluster`/`n_dupped_by` are per-pass internals
    and not returned — the verdict is the product.
    Returns (id_col, pass_dropped, keep).
    """
    seed0 = int(kwargs.pop("seed", 0))  # caller's seed offsets the sequence
    threshold = float(kwargs.get("threshold", 0.3))
    survivors = df.select(F.col(id_col), F.col(vec_col))

    if target_missed_frac is not None:
        fam = family_size_hint
        if fam is None:
            fam = max(2, int(estimate_family_size(survivors, vec_col=vec_col)))
        n_rows = survivors.count()
        rows_per_shard, n_passes = plan_shard_geometry(
            n_rows,
            fam,
            target_missed_frac,
            max_rows_per_shard=max_rows_per_shard,
        )
        kwargs["rows_per_shard"] = rows_per_shard
        kwargs.pop("n_shards", None)

    dropped = []
    if bridge_tables > 0:
        pairs = cross_shard_bridge_pairs(
            survivors,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            n_planes=bridge_planes,
            n_tables=bridge_tables,
            max_block=bridge_max_block,
        )
        # pair convention a < b: b has a lower-id exact near-duplicate
        bridge_drops = pairs.select(F.col("b").alias(id_col)).distinct()
        bridge_drops = bridge_drops.localCheckpoint(eager=False)
        dropped.append(
            bridge_drops.select(F.col(id_col), F.lit(-1).alias("pass_dropped"))
        )
        survivors = survivors.join(bridge_drops, on=id_col, how="left_anti")
    for p in range(int(n_passes)):
        verdicts = semantic_dedup_sharded(
            survivors, vec_col=vec_col, id_col=id_col, seed=seed0 + p, **kwargs
        )
        # each pass is a full shuffle+groupedMap job; cut the lineage so
        # pass p+1 replans from materialized verdicts, not a growing DAG
        verdicts = verdicts.localCheckpoint(eager=False)
        dropped.append(
            verdicts.filter(~F.col("keep")).select(
                F.col(id_col), F.lit(p).alias("pass_dropped")
            )
        )
        survivors = survivors.join(
            verdicts.filter(F.col("keep")).select(id_col), on=id_col, how="inner"
        )
    kept = survivors.select(
        F.col(id_col),
        F.lit(None).cast("int").alias("pass_dropped"),
        F.lit(True).alias("keep"),
    )
    out = kept
    for d in dropped:
        out = out.unionByName(
            d.select(id_col, "pass_dropped", F.lit(False).alias("keep"))
        )
    return out
