"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of these):
  * NEVER all-pairs at corpus scale. Every near-dup path goes
    candidate-generation (hash/band/bucket equi-join — a shuffle on a
    small key) → exact verification only on candidates.
  * hashes are md5-based and engine-agnostic (same hex strings in any SQL
    engine), so results are reproducible and oracle-checkable; lexicographic
    MIN over hex strings replaces integer minhash (no 64-bit parsing needed).
  * all exprs are built-in Column functions — no Python UDFs; the explode →
    groupBy(min) shingle signature is one shuffle with map-side partials.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.hashing import HEX as _HEX
from etl_edi_data_scrapper_spark.functions.hashing import (
    hex_word_sql as _hex_word_sql,
)
from etl_edi_data_scrapper_spark.functions.text import normalize_text, tokens


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles. Short docs (< n tokens) yield their
    whole token string as one shingle (slice truncates — same as DuckDB's
    list slicing)."""
    t = tokens(text)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by normalized-text md5: one shuffle on the
    16-byte hash (never on the full text). Returns fingerprint → canonical
    (min id) + group size."""
    return (
        df.select(F.md5(normalize_text(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per doc: Carter-Wegman family over ONE md5 per
    shingle — split md5(s) into two 32-bit words (w1, w2); then
    h_j = (w1 + j·w2) mod 2^32 and the signature is min over shingles.

    Why not md5('j:'+s) per hash j: that hashes every shingle n_hashes
    times (12× the CPU on the scan stage — the dominant cost at corpus
    scale) and shuffles 32-char strings; this scheme hashes once and
    shuffles 12 longs with numeric map-side min partials.

    One explode + one groupBy. Hash-repartition by id BEFORE the explode:
    (a) a small corpus file in few splits still fans the hashing work
    across the cluster, and (b) the downstream groupBy(id) reuses the
    partitioning — the exploded rows never shuffle.
    """
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    sh = df.select(F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("s"))
    # parsed expressions (r14): the per-nibble/per-hash Column DSL loops
    # cost one py4j round trip per node (~0.5 s of plan build per call);
    # the SQL text parses the identical tree — same instr arithmetic,
    # same integer typing (values pinned by the gate oracles)
    words = sh.select(
        F.col(id_col),
        F.expr(_hex_word_sql("md5(s)", 1)).alias("w1"),
        F.expr(_hex_word_sql("md5(s)", 9)).alias("w2"),
    )
    aggs = [
        F.expr(f"min((w1 + {j} * w2) % 4294967296)").alias(f"h{j}")
        for j in range(n_hashes)
    ]
    return words.groupBy(id_col).agg(*aggs)


def lsh_band_keys(
    sig: DataFrame, id_col: str = "doc_id", n_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """(doc, band, band_key) — band_key = md5 of the band's concatenated
    signature rows. Join on (band, band_key) finds candidates without any
    all-pairs comparison.

    Emitted via ONE explode over an inline array (not a bands-way union):
    the signature subtree appears once in the plan instead of `bands`
    times — the union version blew physical-plan size (and whole-stage
    codegen compile time) up by bands× on every consumer self-join.
    """
    rows = n_hashes // bands
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(":", *[F.col(f"h{b * rows + r}") for r in range(rows)])
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(entries).alias("e")).select(
        F.col(id_col), F.col("e.band").alias("band"), F.col("e.band_key").alias("band_key")
    )


def plan_lsh_bands(
    n_hashes: int,
    threshold: float,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> dict:
    """Measured-auto (b, r) for MinHash LSH banding: pick the banding whose
    S-curve best matches a target Jaccard ``threshold``.

    The probability a pair with Jaccard similarity s becomes a candidate
    under b bands of r rows is P(s) = 1 − (1 − s^r)^b (Leskovec/Rajaraman/
    Ullman, *Mining of Massive Datasets* §3.4.2-3.4.3 — the standard LSH
    S-curve). The planner evaluates every (b, r) with b·r ≤ n_hashes
    (maximal r per b, so no hash is wasted) and minimizes the weighted
    integrated error the MMDS construction defines:

        fp = ∫₀ᵗ P(s) ds      (candidates below the threshold)
        fn = ∫ₜ¹ (1 − P(s)) ds (misses above it)

    — the same objective the public datasketch MinHashLSH optimizer uses;
    midpoint rule at 1000 points (P is smooth and bounded, so the
    integration error is ≪ the grid spacing between adjacent (b, r)
    curves). Pure driver-side arithmetic: no data, no jobs — callers
    (`minhash_candidate_pairs(bands="auto", threshold=…)`) plan once per
    query, and the decision is recorded in the returned dict:
    ``{"bands", "rows", "n_hashes_used", "threshold_star", "fp", "fn"}``
    where ``threshold_star = (1/b)^(1/r)`` is the curve's inflection (the
    similarity at which P crosses ~0.5 — should land near ``threshold``).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    grid = [(i + 0.5) / 1000.0 for i in range(1000)]
    best: dict | None = None
    seen: set[tuple[int, int]] = set()
    for b in range(1, n_hashes + 1):
        r = n_hashes // b
        if (b, r) in seen:
            continue
        seen.add((b, r))
        fp = fn = 0.0
        for s in grid:
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        fp /= 1000.0
        fn /= 1000.0
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best["_err"]:
            best = {
                "bands": b,
                "rows": r,
                "n_hashes_used": b * r,
                "threshold_star": (1.0 / b) ** (1.0 / r),
                "fp": fp,
                "fn": fn,
                "_err": err,
            }
    assert best is not None
    best.pop("_err")
    return best


def bucket_pairs(
    bk: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (a < b) pairs of ids sharing a bucket.

    groupBy(bucket) + LOCAL pair explosion — NOT a self-join. A self-join
    duplicates the (often expensive) bucket-key pipeline into two full
    physical copies: Spark does not reuse the exchange across the join's
    sides, and one copy lands inside a BroadcastExchange that materializes
    the whole upstream pipeline again (observed: the dominant, high-variance
    cost of the LSH query). Here the pipeline runs ONCE, one shuffle on the
    bucket key, and the quadratic blow-up is confined to each bucket's
    collected id array — which LSH banding keeps small by construction.

    ``max_bucket`` guards against degenerate buckets (constant column,
    hash collapse): a bucket is truncated to its ``max_bucket`` smallest
    ids before pairing, capping per-bucket work at max_bucket²/2. A
    10⁶-member bucket at 10⁹-doc scale is almost always a pathological
    key, not 10¹²/2 pairs anyone wants; recall on truncated buckets drops
    only for pairs entirely inside the cut tail.
    """
    ids = bk.groupBy(*bucket_cols).agg(F.collect_set(id_col).alias("ids"))
    ids = ids.filter(F.size("ids") > 1).select(F.sort_array("ids").alias("ids"))
    if max_bucket is not None:
        ids = ids.select(F.slice("ids", 1, int(max_bucket)).alias("ids"))
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x: F.transform(
                F.filter(F.col("ids"), lambda y: y > x),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        ids.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def candidate_pair_bound(
    bk: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket: int | None = None,
) -> int:
    """EXACT upper bound on the pairs `bucket_pairs` will emit from these
    band keys: Σ_buckets c·(c−1)/2 with c = min(distinct ids, max_bucket)
    — the pre-``distinct()`` pair count, so always ≥ the emitted count.
    One 1-row aggregation job over the band keys (linear shuffle, never
    the quadratic expansion itself). This is the density-insensitive
    secondary guard for `jaccard_pairs`' no-probe broadcast gate (r13
    verdict finding: Catalyst's size estimate doesn't model the quadratic
    bucket expansion and understates pair bytes ~100×, with a calibration
    specific to this pipeline's shingle geometry; the bound is exact
    whatever the corpus density)."""
    c = F.countDistinct(F.col(id_col)).alias("n")
    sizes = bk.groupBy(*bucket_cols).agg(c)
    n = (
        F.least(F.col("n"), F.lit(int(max_bucket)))
        if max_bucket is not None
        else F.col("n")
    )
    row = sizes.select(
        F.sum((n.cast("long") * (n.cast("long") - 1)) / 2).alias("b")
    ).first()
    return int(row["b"] or 0)


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 12,
    bands: int | str = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
    with_bound: bool = False,
    threshold: float = 0.5,
):
    """Distinct candidate pairs (a < b) sharing ≥1 LSH band.

    ``bands="auto"`` plans the banding from the target Jaccard
    ``threshold`` via :func:`plan_lsh_bands` (the MMDS S-curve fit)
    instead of making the operator guess a band count — the same
    measured-decision discipline as ``--opq auto``, but closed-form (no
    sample needed: the S-curve depends only on (b, r)).

    ``max_bucket`` is `bucket_pairs`' saturation guard: when near-dup
    FAMILY size grows with the corpus (heavy replication — the regime the
    r7 100× smoke measured at a super-linear 30×→100× segment), band
    buckets grow ∝ family size and local pair work ∝ size² per bucket;
    the guard truncates each bucket to its ``max_bucket`` smallest ids —
    deterministic (sorted-array slice == a rank window over (band,
    band_key) ordered by id), so the gate oracle replicates it exactly.

    ``with_bound=True`` returns ``(pairs, bound_fn)`` where ``bound_fn()``
    computes `candidate_pair_bound` — pass it as `jaccard_pairs`'
    ``pair_bound`` so the broadcast fast path is gated on an EXACT pair
    count, not just Catalyst's estimate. The band keys are lazily
    localCheckpoint-ed so the bound job and the downstream pair
    construction share one execution of the signature pipeline (the
    checkpoint is linear in docs×bands — never the quadratic pair
    volume — so it is safe at any corpus density)."""
    if bands == "auto":
        bands = plan_lsh_bands(n_hashes, threshold)["bands"]
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n)
    bk = lsh_band_keys(sig, id_col, n_hashes, bands)
    if with_bound:
        bk = bk.localCheckpoint(eager=False)
        pairs = bucket_pairs(bk, id_col, ["band", "band_key"], max_bucket=max_bucket)

        def bound() -> int:
            return candidate_pair_bound(
                bk, id_col, ["band", "band_key"], max_bucket=max_bucket
            )

        return pairs, bound
    return bucket_pairs(bk, id_col, ["band", "band_key"], max_bucket=max_bucket)


# "auto" broadcast cutoff for jaccard_pairs' candidate side: 2M pairs
# (two longs + band metadata ~ 50 MB serialized) broadcasts comfortably;
# past it the driver collect is the bottleneck (the r12 factor-300 smoke
# died at ~43M pairs / >1 GB) and the shuffled path wins outright.
_BROADCAST_PAIRS_MAX = 2_000_000

# r13 (verdict #6): below this Catalyst size estimate for the candidate
# plan, 'auto' broadcasts WITHOUT the checkpoint+count probe — the probe
# costs two extra job round-trips per call, which is pure overhead on
# gate/bench-scale frames (minhash_lsh carries two of them). The
# estimate traces back to the (accurate) source-scan bytes through
# projection ratios; it does NOT model bucket_pairs' quadratic pair
# expansion — measured (r13, suite geometry): est 34 KB at sf0.01,
# 317 KB at sf0.1, 19 MB at 300× where the ACTUAL pair count is 43M
# (~2 GB serialized), i.e. the estimate understates real pair bytes by
# ~100×, and that ratio is specific to this pipeline's projection and
# shingle geometry. r14 (verdict #3): the estimate is therefore never
# sufficient on its own — the fast path ALSO requires the caller's
# exact `pair_bound` ≤ `_BROADCAST_PAIRS_MAX` (Σ min(n, max_bucket)²-
# style, density-insensitive); with no bound, 'auto' always probes.
_BROADCAST_EST_CERTAIN_BYTES = 512 << 10


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.0,
    broadcast_candidates: bool | str = "auto",
    pair_bound=None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification stage).

    Candidate-join strategy: the shingle frame must NEVER be the build
    side — it streams through both joins (letting the optimizer pick is
    wrong-way: size estimates for the shingle projection are garbage,
    and broadcasting it materializes the whole shingle pipeline). What
    varies is the CANDIDATE side:

    * ``True`` — static broadcast. Correct while candidates are small by
      LSH construction, but candidates grow ∝ corpus × duplication
      density: the r12 factor-300 smoke KILLED this path (the broadcast
      collect blew spark.driver.maxResultSize at >1 GB of pairs) — a
      static hint cannot be the default for an operator that must
      survive 100 TB.
    * ``False`` — shuffle joins on the id keys. Always safe, never
      driver-bound; pays two shuffles of the shingle frame.
    * ``"auto"`` (default) — decide by MEASUREMENT, not estimate: the
      candidate frame is materialized once (eager localCheckpoint — the
      verification join was going to compute it anyway; the checkpoint
      also stops the band join re-executing for both join legs) and
      counted; ≤ `_BROADCAST_PAIRS_MAX` pairs broadcast, above that the
      joins run as sort-merge (merge hint). SMJ, not shuffled-hash: a
      SHJ build side cannot spill — at 43M pairs the 300× smoke got
      "Can't acquire 268435456 bytes to build hash relation" with 32
      tasks contending for the unified pool, while sort-merge spills
      gracefully at any candidate volume. AQE cannot make this call for
      us: a runtime-demoted broadcast still collects to the driver
      first, and (measured, r12) AQE respects explicit merge/
      shuffle_hash hints rather than promoting small sides back to
      broadcast — so the count probe is the only path that adapts in
      BOTH directions. r13 (verdict #6): the probe itself is gated on
      Catalyst's plan-size estimate, `_spread_small_scan`-style — a
      candidate plan estimating ≤ `_BROADCAST_EST_CERTAIN_BYTES`
      broadcasts directly (no checkpoint, no count job); only ambiguous
      sizes pay the measurement. r14 (verdict #3): the estimate alone is
      DENSITY-BLIND — it traces source bytes through projection ratios
      and does not model the quadratic bucket expansion (measured ~100×
      understatement on suite geometry, and the ratio varies with shingle
      width/duplication density) — so the no-probe fast path ALSO
      requires ``pair_bound`` ≤ `_BROADCAST_PAIRS_MAX`. ``pair_bound``
      is an exact upper bound on the candidate count: an int when the
      caller knows it structurally (e.g. an explicit k×k cross product),
      or the bound closure from ``minhash_candidate_pairs(...,
      with_bound=True)`` (one linear 1-row aggregate —
      `candidate_pair_bound`). Without it, 'auto' always pays the count
      probe: a dense small-estimate corpus must never broadcast tens of
      MB of pairs on the strength of an estimate.
    """
    # widen the doc scan first: a compact corpus file yields few input
    # splits, and without this the whole shingle computation runs on ONE
    # task (observed: 31 of 32 cores idle in thread dumps)
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    sh = df.select(F.col(id_col), shingles(text_col, shingle_n).alias("sh"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    pairs = pairs.alias("p")
    if broadcast_candidates == "auto":
        from etl_edi_data_scrapper_spark.functions.clustering import (
            _plan_size_bytes,
        )

        if (
            pair_bound is not None
            and _plan_size_bytes(pairs) <= _BROADCAST_EST_CERTAIN_BYTES
            and (pair_bound() if callable(pair_bound) else int(pair_bound))
            <= _BROADCAST_PAIRS_MAX
        ):
            broadcast_candidates = True  # certainly small: skip the probe
        else:
            from pyspark import StorageLevel

            # DISK_ONLY: a probe-path candidate frame is by definition
            # possibly huge (the r13 300× smoke measured 191M pairs,
            # ~6 GB deserialized), and it is read exactly twice (count,
            # then one join pass). Caching it in the unified pool
            # starved the DOWNSTREAM aggregates instead — the storage
            # floor (spark.memory.storageFraction) is unevictable, and
            # connected_components' first distinct died with
            # AGGREGATE_OUT_OF_MEMORY at 24 g AND 48 g while three
            # multi-GB checkpoints sat in the pool. Disk blocks cost
            # two sequential reads and zero pool pressure.
            pairs = pairs.localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
            broadcast_candidates = pairs.count() <= _BROADCAST_PAIRS_MAX
            if not broadcast_candidates:
                pairs = pairs.hint("merge")
    if broadcast_candidates is True:
        pairs = F.broadcast(pairs)
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    return (
        pairs.join(sa, F.col("a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("b") == F.col(f"sb.{id_col}"))
        .select(
            "a",
            "b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- SimHash -----------------------------------------------------------------


def simhash_bit_sums(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """The shared SimHash kernel: per-doc signed bit sums (id, b0..b_{bits-1})
    where b_i = Σ_tokens (±1 by bit i of md5(token)). Explode + single
    groupBy with `bits` conditional-sum aggregates — one shuffle, map-side
    partials. The sums for bit i do not depend on the total width, so one
    64-bit sums pass feeds BOTH a ≤52-bit single-long signature and the
    64-bit hi/lo signature (`simhash_combined_from_sums`).

    Bits come from md5 hex chars via instr arithmetic, so an external SQL
    oracle computes the identical signature. Pre-explode hash-repartition
    by id: parallelism for the bit-sum work + shuffle-free groupBy(id)."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    tok = tok.withColumn("h", F.md5(F.col("t")))
    # parsed expressions (r14): the per-bit Column DSL loop cost one py4j
    # round trip per node (1.5 s of plan build at bits=64); the SQL text
    # parses the identical tree — floor (not cast: double→int casts round
    # in some engines), same instr nibble arithmetic (values pinned by the
    # simhash gate oracles)
    aggs = []
    for i in range(bits):
        nib = f"(instr('{_HEX}', substring(h, {i // 4 + 1}, 1)) - 1)"
        bit = f"(CAST(floor({nib} / {2 ** (3 - i % 4)}) AS INT) % 2)"
        aggs.append(
            F.expr(f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)").alias(f"b{i}")
        )
    return tok.groupBy(id_col).agg(*aggs)


def _sign_bits_long(lo_bit: int, n_bits: int) -> Column:
    """Recombine ``n_bits`` sign bits (b_{lo_bit+j} > 0 → bit j) into one
    long — the ONE place the sign convention lives for every signature
    shape (single-long, hi/lo halves, combined). One parsed expression
    (r14): the per-bit when/otherwise DSL chain cost a py4j round trip
    per node; the text parses the identical 0-seeded integer sum (same
    int→long literal promotion — 2^j sits in an INT literal below bit 31
    and a BIGINT one above, exactly like F.lit)."""
    terms = " + ".join(
        f"CASE WHEN b{lo_bit + j} > 0 THEN {2**j} ELSE 0 END"
        for j in range(n_bits)
    )
    return F.expr(f"CAST(0 + {terms} AS BIGINT)")


def _block_pairs(
    grp: DataFrame,
    hamming,
    max_hamming: int,
    keep_cols: tuple[str, ...] = (),
    max_block: int | None = None,
) -> DataFrame:
    """Blocked groups → deduped (a, b, hamming[, keep_cols]) pairs.

    ``grp`` carries column ``m``: a SORTED array of structs with field ``i``
    (the doc id) plus whatever signature fields ``hamming(x, y)`` needs.
    Local pair explosion per block (never a self-join — see `bucket_pairs`);
    a pair colliding in several blocks is emitted once.

    ``max_block`` is the same degenerate-block guard as `bucket_pairs`'s
    ``max_bucket``: a block is truncated to its ``max_block`` smallest ids
    before pairing, capping per-block work at max_block²/2. Narrow piece
    widths saturate at scale (a 32-bit/4-piece demo signature has only 256
    block values per piece — occupancy grows ∝ corpus/256, measured
    super-linear past ~10× sf0.1), so production paths should either use
    wide pieces (the 64-bit signature's 65k blocks) or set this cap."""
    if max_block is not None:
        grp = grp.withColumn("m", F.slice("m", 1, int(max_block)))
    pairs = F.flatten(
        F.transform(
            F.col("m"),
            lambda x: F.transform(
                F.filter(F.col("m"), lambda y: y["i"] > x["i"]),
                lambda y: F.struct(
                    x["i"].alias("a"), y["i"].alias("b"), hamming(x, y).alias("hamming")
                ),
            ),
        )
    )
    return (
        grp.select(*keep_cols, F.explode(pairs).alias("_pr"))
        .select("_pr.a", "_pr.b", "_pr.hamming", *keep_cols)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_from_sums(
    sums: DataFrame, id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """(id, b0..) bit sums → single-long signature of width ``bits``."""
    if bits > 52:
        raise ValueError(
            f"bits={bits}: single-long signatures above 52 bits lose exactness "
            "under the portable floor/division piece arithmetic (and bit 63 "
            "overflows a signed long) — 64-bit signatures are two 32-bit halves "
            "(simhash_combined_from_sums, simhash_pairs_multi)"
        )
    return sums.select(F.col(id_col), _sign_bits_long(0, bits).alias("simhash"))


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """SimHash signature: bit_i = sign of Σ_tokens (±1 by bit i of
    md5(token)). See `simhash_bit_sums` for the kernel and scale notes;
    `simhash_from_sums` rejects widths above 52 bits (the 64-bit signature
    is two 32-bit halves: `simhash_combined_from_sums`)."""
    return simhash_from_sums(simhash_bit_sums(df, id_col, text_col, bits), id_col, bits)


def simhash_combined_from_sums(
    sums: DataFrame, id_col: str = "doc_id", single_bits: int = 48
) -> DataFrame:
    """(id, b0..b63) bit sums → (id, simhash, simhash_hi, simhash_lo): the
    ≤52-bit single-long signature AND the 64-bit halves in one projection,
    for consumers that block on several widths from one kernel pass."""
    if single_bits > 52:
        raise ValueError("single_bits must be ≤ 52 (see simhash_from_sums)")
    return sums.select(
        F.col(id_col),
        _sign_bits_long(0, single_bits).alias("simhash"),
        _sign_bits_long(32, 32).alias("simhash_hi"),
        _sign_bits_long(0, 32).alias("simhash_lo"),
    )


def _hamming64(x, y) -> Column:
    """Hamming distance across the two 32-bit signature halves."""
    return F.bit_count(x["sh"].bitwiseXOR(y["sh"])) + F.bit_count(
        x["sl"].bitwiseXOR(y["sl"])
    )


def simhash_pairs_multi(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    single_bits: int = 48,
    max_hamming: int = 3,
    max_block: int | None = None,
) -> DataFrame:
    """Near-dup pairs at TWO signature widths from ONE kernel pass and ONE
    blocking shuffle: the ``single_bits`` single-long signature and the
    64-bit hi/lo signature, results tagged by ``sig_bits``.

    One projection derives all three signature values from the shared
    64-bit `simhash_bit_sums`; one explode emits every (leg, piece, block)
    entry — ``max_hamming + 1`` pieces for the single leg (pigeonhole-
    complete recall) and the fixed 4×16-bit pieces for the 64-bit leg
    (complete for hamming ≤ 3). The whole computation is a single linear
    plan: kernel groupBy → piece explode → one groupBy(leg, piece, block)
    with per-leg hamming in the local pair explosion. Nothing runs twice,
    and the corpus text never reaches the blocking shuffle."""
    if max_hamming > 3:
        raise ValueError(
            "the 64-bit leg blocks on 4 fixed 16-bit pieces — recall is "
            "pigeonhole-complete only for max_hamming <= 3"
        )
    n_pieces = max_hamming + 1
    width = single_bits // n_pieces
    sig = simhash_combined_from_sums(
        simhash_bit_sums(df, id_col, text_col, 64), id_col, single_bits
    )
    entries = []
    for p in range(n_pieces):
        pw = width if p < n_pieces - 1 else single_bits - width * (n_pieces - 1)
        blk = F.floor(
            F.col("simhash") / F.pow(F.lit(2.0), F.lit(width * p))
        ).cast("long") % F.lit(2**pw)
        entries.append(
            F.struct(F.lit(single_bits).alias("sb"), F.lit(p).alias("p"), blk.alias("blk"))
        )
    for p in range(4):
        src = F.col("simhash_lo") if p < 2 else F.col("simhash_hi")
        blk = F.floor(src / F.pow(F.lit(2.0), F.lit(16 * (p % 2)))).cast(
            "long"
        ) % F.lit(65536)
        entries.append(
            F.struct(F.lit(64).alias("sb"), F.lit(p).alias("p"), blk.alias("blk"))
        )
    pieced = sig.select(
        F.col(id_col),
        "simhash",
        "simhash_hi",
        "simhash_lo",
        F.explode(F.array(*entries)).alias("pc"),
    ).select(
        F.col(id_col), "simhash", "simhash_hi", "simhash_lo", "pc.sb", "pc.p", "pc.blk"
    )
    grp = (
        pieced.groupBy("sb", "p", "blk")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.struct(
                        F.col(id_col).alias("i"),
                        F.col("simhash").alias("s"),
                        F.col("simhash_hi").alias("sh"),
                        F.col("simhash_lo").alias("sl"),
                    )
                )
            ).alias("m")
        )
        .filter(F.size("m") > 1)
    )

    def hamming(x, y) -> Column:
        return F.when(
            F.col("sb") == single_bits, F.bit_count(x["s"].bitwiseXOR(y["s"]))
        ).otherwise(_hamming64(x, y))

    # max_block is the same saturation guard as the single-width paths
    # (r6: a 30x replication OOM'ed the unguarded 48-bit leg's local pair
    # explosion — hot blocks of B entries emit B²/2 structs per row)
    return _block_pairs(
        grp, hamming, max_hamming, keep_cols=("sb",), max_block=max_block
    ).withColumnRenamed("sb", "sig_bits")


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    out_id: str = "doc_id",
    max_iters: int = 25,
    pointer_jump: bool = True,
    strict: bool = True,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: min-label connected
    components over the undirected pair graph. Returns
    ``(out_id, cluster_id, is_canonical)`` — cluster_id = min doc id in the
    component, the row to keep; everything else is the drop list.

    Min-label propagation: every node starts labelled with itself; each
    round takes ``min(own label, neighbours' labels)``; fixpoint = done.
    Rounds needed = graph diameter — LSH dup clusters are near-cliques
    (diameter 2-3), so this converges in a handful of one-shuffle rounds.
    ``pointer_jump`` adds label ← label(label) each round (one extra
    self-join on the label frame): adversarial chain-shaped components
    collapse in O(log diameter) rounds instead of O(diameter) — a 10⁶-long
    chain needs ~20 rounds, not 10⁶. The only driver-side data is the
    per-round convergence flag (one count, like kmeans' k×dim centroid
    round-trip — bounded, documented). Each round's labels are eagerly
    localCheckpoint'ed, truncating lineage so plans stay flat. Deterministic under any partitioning. ``strict`` raises if
    ``max_iters`` rounds pass without a fixpoint (a silent partial
    clustering is a wrong dedup decision).

    ``driver_max_edges`` (r14, default from ``EDI_CC_DRIVER_MAX_EDGES``,
    200k): when the MEASURED directed-edge count (one count over the
    already-materialized edge checkpoint) is at or under the bound, the
    components are solved with a driver-side union-find instead of the
    iterative propagation. Same contract — min-label per component, same
    column names/types — but one bounded collect (≤ driver_max_edges
    two-field rows, the same bounded-driver-state class as kmeans'
    centroid round-trip) replaces 3-4 shuffle jobs PER PROPAGATION
    ROUND. The iterative path is unchanged and takes over beyond the
    bound (the r13 300× smoke's 382M-edge set never collects).
    Value-identical by construction (union-find and min-label
    propagation both compute the unique min id per component; pinned by
    `test_driver_union_find_matches_iterative_labels`).
    """
    # Eager localCheckpoint (not persist) everywhere below: each round's
    # plan references the previous round's frame TWICE (neighbour join +
    # self union, plus the jump self-join), so with persist alone the
    # LOGICAL plan still nests and doubles per round and Catalyst analysis
    # cost grows 2^rounds (measured: round 3 on a 41-node chain took
    # 130 s). Checkpointing truncates lineage to the materialized
    # partitions, so every round plans against a flat scan — the same
    # pattern Spark's own iterative libraries use. Driver traffic stays
    # one convergence count per round.
    # both directions via ONE explode, not union(select, select.swapped):
    # the union form executes the caller's whole pair pipeline TWICE
    # before the checkpoint — at the r12 factor-300 smoke that doubled a
    # ~1000 s jaccard verification and pushed dedup_clusters to 994×
    # (3.3× over ideal-linear); the explode runs it once for both
    # directions and checkpoints the same edge set
    # DISK_ONLY (r13): the edge set is the largest long-lived frame of
    # the whole dedup pipeline (2 × verified pairs — 382M rows in the
    # r13 300× smoke), re-read once per propagation round. In the
    # unified pool it starved the very first labels distinct
    # (AGGREGATE_OUT_OF_MEMORY at 24 g and 48 g alike — execution could
    # not claim pages past the storage floor); on disk it costs one
    # sequential scan per round and the aggregates get the whole pool.
    # Gate-scale edge sets are KBs, where a disk re-read is free.
    from pyspark import StorageLevel

    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    # measured gate (r15, verdict item 8): ONE bounded take(bound+1)
    # replaces the r14 count()+collect() pair. take() scans partitions
    # incrementally and stops as soon as bound+1 rows exist, so a huge
    # graph pays one partial read of the already-materialized blocks
    # (not a full count scan), and a small graph's take IS the collect —
    # the union-find below runs on the returned rows directly (edge
    # order is irrelevant: components and their min labels are
    # order-independent), removing one job from every CC call.
    if driver_max_edges is None:
        driver_max_edges = int(os.environ.get("EDI_CC_DRIVER_MAX_EDGES", "200000"))
    edge_sample = (
        edges.take(driver_max_edges + 1) if driver_max_edges > 0 else None
    )
    if edge_sample is not None and len(edge_sample) <= driver_max_edges:
        from pyspark.sql.types import BooleanType, StructField, StructType

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edge_sample:
            s, d = r[0], r[1]
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rd] = rs
        comp_min: dict = {}
        for node in parent:
            root = find(node)
            cur = comp_min.get(root)
            if cur is None or node < cur:
                comp_min[root] = node
        node_t = edges.schema["src"].dataType
        schema = StructType(
            [
                StructField(out_id, node_t, False),
                StructField("cluster_id", node_t, False),
                StructField("is_canonical", BooleanType(), False),
            ]
        )
        rows = sorted(
            (node, comp_min[find(node)]) for node in parent
        )
        # the frame is bounded (≤ 2·driver_max_edges short rows), so hint
        # broadcast: downstream doc⋈comps joins then skip shuffling the
        # corpus side entirely (the iterative path below stays unhinted —
        # its label frame is unbounded)
        return F.broadcast(
            edges.sparkSession.createDataFrame(
                [(n, lbl, n == lbl) for n, lbl in rows], schema
            )
        )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .select(F.col("src").alias("node"), F.col("label"))
        )
        new_labels = (
            labels.unionByName(nbr_min)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        if pointer_jump:
            # label <- label(label): labels form a min-monotone forest
            # (label(x) <= x), so the parent's label always exists and is
            # <= the child's - chain-shaped components halve every round
            pre = new_labels.localCheckpoint(eager=True)
            jump = pre.select(
                F.col("node").alias("__pn"), F.col("label").alias("__pl")
            )
            new_labels = (
                pre.join(jump, pre["label"] == jump["__pn"], "left")
                .select("node", F.coalesce("__pl", "label").alias("label"))
            )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if strict and not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds — "
            "raise max_iters (component diameter exceeds 2^max_iters with "
            "pointer_jump, or max_iters without)"
        )
    return labels.select(
        F.col("node").alias(out_id),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


# --- Embedding near-dup --------------------------------------------------------


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two float-array columns via zip_with/aggregate —
    sequential double accumulation in index order (deterministic,
    engine-parity)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    """L2 norm, same accumulation discipline as dot_expr."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def embedding_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.95,
    max_block: int | None = None,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold.

    Blocked all-pairs within `block_col` (cluster id, shard, LSH bucket —
    see similarity.hyperplane_lsh_buckets for hash-derived blocks when no
    natural one exists). The equi-join on the block key keeps the pair count
    at Σ block² instead of N².

    ``max_block`` is the saturation guard of the bucket_pairs/simhash
    family: when duplication density makes a block grow with the corpus
    (every member near-identical to every other), block² work and OUTPUT
    both go quadratic. The guard deterministically truncates each block to
    its ``max_block`` smallest ids before the self-join (rank window —
    same shuffle key as the join, so AQE reuses the exchange), capping
    per-block work at max_block²/2. The truncation rule is
    oracle-expressible verbatim (QUALIFY row_number() OVER (PARTITION BY
    block ORDER BY id) <= max_block)."""
    cols = [F.col(id_col), F.col(vec_col)] + ([F.col(block_col)] if block_col else [F.lit(0).alias("__blk")])
    blk = block_col or "__blk"
    # norms once per vector (N), not per pair (N²); aliased self-join so
    # both sides share one subplan (shuffle computed once)
    base = df.select(*cols).withColumn("__nrm", norm_expr(F.col(vec_col)))
    if max_block is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(blk).orderBy(F.col(id_col))
        base = (
            base.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= int(max_block))
            .drop("__rk")
        )
    a, b = base.alias("ea"), base.alias("eb")
    sim = dot_expr(F.col(f"ea.{vec_col}"), F.col(f"eb.{vec_col}")) / (
        F.col("ea.__nrm") * F.col("eb.__nrm")
    )
    return (
        a.join(b, F.col(f"ea.{blk}") == F.col(f"eb.{blk}"))
        .filter(F.col(f"ea.{id_col}") < F.col(f"eb.{id_col}"))
        .select(
            F.col(f"ea.{id_col}").alias("a"),
            F.col(f"eb.{id_col}").alias("b"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    w: int = 8,
) -> DataFrame:
    """(id, fp) — winnowing document fingerprints (Schleimer/Wilkerson/
    Aiken, SIGMOD'03 — the MOSS scheme) over WORD n-grams: hash every
    n-word gram of the normalized text, slide a w-window over the hash
    sequence, keep each window's minimum; the distinct minima are the
    document's fingerprints.

    Guarantee: any shared run of ≥ n + w − 1 words yields at least one
    shared fingerprint — POSITIONAL overlap detection. This is the dedup
    modality MinHash misses: a long plagiarized/boilerplate passage inside
    two otherwise-different documents never lifts whole-document Jaccard
    over an LSH threshold, but it always shares a winnowing window.

    Plan/efficiency shape: ONE narrow projection per document
    (split/sequence/transform/slice/array_min array expressions, all
    JVM-side), no shuffle, no per-position explode until the final
    distinct fingerprint set. Word grams (not MOSS's char grams — those
    cost one hash per CHARACTER) keep it at one md5 per word position, and
    window minima compare the md5 hex STRINGS byte-wise — identical
    ordering in Spark and DuckDB, no hex→int parsing per position.
    """
    from etl_edi_data_scrapper_spark.functions.text import normalize_text

    d = df.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("_t")
    )
    n_grams = F.size("_t") - F.lit(n - 1)
    grams = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.md5(F.array_join(F.slice(F.col("_t"), i, F.lit(n)), " ")),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    d = d.select(F.col(id_col), grams.alias("_h"))
    n_windows = F.greatest(F.lit(1), F.size("_h") - F.lit(w - 1))
    mins = F.when(
        F.size("_h") >= 1,
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(F.col("_h"), j, F.lit(w))),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return d.select(F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp"))


def winnowing_shared_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    w: int = 8,
    max_df: int = 5,
    min_shared: int = 2,
) -> DataFrame:
    """(a, b, n_shared) — document pairs sharing ≥ ``min_shared`` winnowing
    fingerprints (passage-overlap candidates).

    Scale guard: fingerprints appearing in more than ``max_df`` documents
    (template boilerplate — the positional analog of stopwords) are
    dropped BEFORE the self-join, so per-fingerprint join fan-out is
    ≤ max_df² and total work is Σ df(fp)² over surviving fingerprints —
    bounded candidate generation, never all-pairs (the winnowing analog of
    the MinHash bucket-size guard)."""
    fps = winnowing_fingerprints(df, id_col, text_col, n, w).localCheckpoint(
        eager=False  # fingerprints feed the df-filter AND the self-join —
        # materialize once instead of running the per-gram hashing twice
    )
    keep = (
        fps.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("fp")
    )
    kept = fps.join(keep, "fp")
    return (
        kept.join(kept.select(F.col("fp"), F.col(id_col).alias("_rid")), "fp")
        .filter(F.col(id_col) < F.col("_rid"))
        .groupBy(F.col(id_col).alias("a"), F.col("_rid").alias("b"))
        .agg(F.countDistinct("fp").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("a", "b", "n_shared")
    )
