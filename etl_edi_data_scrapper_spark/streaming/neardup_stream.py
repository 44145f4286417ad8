"""Incremental NEAR-dup: dedupe each incoming micro-batch of documents
against everything already accepted — the production shape of training-data
ingestion (a new crawl slice must not re-admit near-copies of the corpus).

Composition (all batch operators reused inside ``foreachBatch``):

  batch docs → `dedup.minhash_signatures` → `dedup.lsh_band_keys`
            → intra-batch near-dup CLUSTERS (`dedup.connected_components`
              over verified candidate pairs: canonical = earliest id per
              component — a doc near a rejected doc collapses to the same
              admitted canonical, never to a phantom)
            → equi-join against the ACCUMULATED band-key store (parquet,
              partitioned by band) → signature-agreement verify
            → accepted docs' band keys appended to the store

The store holds (band, band_key, doc_id, h0..h{n-1}) — band keys plus the
signature longs, never document text, so state size is
O(accepted docs × bands) smalls and the verify step needs no second scan.
Candidate verification estimates Jaccard as the fraction of agreeing
minhash components (the standard unbiased estimator E[matches/n] = J) —
``threshold`` applies to that estimate. ``dup_of`` always names an
ADMITTED representative: a doc's intra-batch cluster collapses to its
earliest id, that representative is checked against the store, and the
whole cluster inherits the verdict — so a dup_of pointer never dangles at
a doc that was itself rejected. The store layout is fixed (parquet
partitioned by ``band``); never mix layouts in one store directory.

Scale notes:
  * candidate generation is a band-key equi-join (shuffle on 16-byte keys)
    — no all-pairs against history; the store is written
    ``partitionBy("band")`` so a band's files prune on read;
  * the store grows O(accepted docs); at 10⁹ docs it is ~12 longs + keys
    per doc — a compacted parquet table;
  * the store is read through `fsutil.read_store` (any Hadoop
    filesystem, no driver-local existence probe; an empty store directory
    reads as "no store yet") and its schema must equal the batch's key
    frame;
  * delivery is at-least-once: a replayed batch re-checks against the
    store (a doc never matches itself) and re-appends its accepted rows —
    verdicts stay correct (dup_of takes a MIN over candidates); duplicate
    store rows are an offline-compaction concern, not a correctness one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark import fsutil
from etl_edi_data_scrapper_spark.functions.dedup import (
    connected_components,
    lsh_band_keys,
    minhash_signatures,
)


def _sig_cols(n_hashes: int) -> list[str]:
    return [f"h{j}" for j in range(n_hashes)]


def _agreement(n_hashes: int):
    """Fraction of agreeing minhash components between x-side and y-side
    (columns h{j} vs h{j}_old) — the Jaccard estimator."""
    matches = sum(
        (
            F.when(F.col(f"h{j}") == F.col(f"h{j}_old"), 1).otherwise(0)
            for j in range(n_hashes)
        ),
        F.lit(0),
    )
    return matches / F.lit(float(n_hashes))


def dedup_batch_against_store(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 12,
    bands: int = 6,
    threshold: float = 0.5,
) -> DataFrame:
    """One increment: returns the batch with ``dup_of`` (the ADMITTED
    representative this doc duplicates — a store doc or the in-batch
    cluster canonical — else NULL) and appends the ACCEPTED docs' band
    keys + signatures to the store. The returned frame is eagerly
    checkpointed (materialized before the store append), so it is safe to
    evaluate any number of times.

    Pure batch function so it is testable without a stream; a streaming
    pipeline calls it per micro-batch from ``foreachBatch``."""
    sig = minhash_signatures(batch, id_col, text_col, n_hashes)
    keys = lsh_band_keys(sig, id_col, n_hashes, bands)
    keyed = keys.join(sig, id_col).cache()  # (id, band, band_key, h0..)

    old_side = [F.col(c).alias(f"{c}_old") for c in _sig_cols(n_hashes)]

    id_type = batch.schema[id_col].dataType

    # --- intra-batch: verified pairs → connected components; every doc
    # collapses to its cluster's earliest id. Fast path: most steady-state
    # micro-batches have no intra-batch collisions — skip the iterative
    # clustering (several fixed-latency jobs) when there are no pairs.
    intra_pairs = (
        keyed.alias("x")
        .join(
            keyed.select(
                F.col(id_col).alias("old_id"), "band", "band_key", *old_side
            ).alias("y"),
            on=["band", "band_key"],
        )
        .filter(F.col("old_id") < F.col(id_col))
        .filter(_agreement(n_hashes) >= threshold)
        .select(F.col("old_id").alias("a"), F.col(id_col).alias("b"))
        .distinct()
        # materialize ONCE: the emptiness probe below and (in the slow
        # path) connected_components both need the pair set — without the
        # checkpoint the self-join executes twice. The fast path pays
        # nothing extra: probing an empty pair set scans everything anyway
        # (there is no row for take(1) to short-circuit on).
        .localCheckpoint(eager=True)
    )
    if intra_pairs.take(1):
        clusters = connected_components(intra_pairs, out_id=id_col).select(
            id_col, "cluster_id"
        )
        with_cluster = batch.join(clusters, id_col, "left")
    else:
        with_cluster = batch.withColumn("cluster_id", F.lit(None).cast(id_type))

    # --- against the accumulated store (band equi-join, candidates only).
    # ONE read serves both the drift check and the join (on object stores a
    # second `spark.read...parquet` is a second directory listing per
    # micro-batch): `fsutil.read_store` says "no store yet" only for a
    # missing or empty store — any OTHER failure (corrupt store, a
    # compaction that died mid-swap) raises instead of silently dropping
    # the dedup history — and a store written under different settings
    # (n_hashes/bands drift changes the columns; a band dtype change
    # breaks the equi-join) fails loudly instead of null-filling
    # signature columns and silently missing matches. The select() below
    # only reorders columns (the partition column `band` lists last on
    # read) — no second listing.
    store = fsutil.read_store(spark, store_dir)
    if store is not None:
        actual = {f.name: f.dataType for f in store.schema.fields}
        wanted = {f.name: f.dataType for f in keyed.schema.fields}
        if actual != wanted:
            raise ValueError(
                f"near-dup store at {store_dir!r} has columns "
                f"{sorted((n, str(t)) for n, t in actual.items())} but this "
                f"job produces {sorted((n, str(t)) for n, t in wanted.items())}"
                " — n_hashes/bands drift? Use the store's original settings "
                "or rebuild it."
            )
        store = store.select(*keyed.schema.names)
    if store is not None:
        hist = (
            keyed.join(
                store.select(
                    F.col(id_col).alias("old_id"), "band", "band_key", *old_side
                ),
                on=["band", "band_key"],
            )
            # an at-least-once REPLAY finds the doc's own keys in the store
            # — a doc is never a duplicate of itself
            .filter(F.col("old_id") != F.col(id_col))
            .filter(_agreement(n_hashes) >= threshold)
            .groupBy(id_col)
            .agg(F.min("old_id").alias("dup_of_store"))
        )
    else:
        hist = None

    # --- verdict: dup_of always names an ADMITTED representative. Each
    # doc's cluster representative (itself when unclustered) is checked
    # against the store; the whole cluster inherits that verdict — the
    # representative's store duplicate when it has one, else the admitted
    # representative itself for the non-representative members.
    wc = with_cluster.withColumn("_canon", F.coalesce("cluster_id", F.col(id_col)))
    if hist is not None:
        wc = wc.join(
            hist.select(
                F.col(id_col).alias("_canon"),
                F.col("dup_of_store").alias("_canon_dup"),
            ),
            "_canon",
            "left",
        )
    else:
        wc = wc.withColumn("_canon_dup", F.lit(None).cast(id_type))
    verdict = (
        wc.withColumn(
            "dup_of",
            F.when(F.col(id_col) == F.col("_canon"), F.col("_canon_dup")).otherwise(
                F.coalesce("_canon_dup", F.col("_canon"))
            ),
        )
        .drop("cluster_id", "_canon", "_canon_dup")
        # eager checkpoint BEFORE the append below mutates the store
        # directory: the write invalidates the shared file-status cache, so
        # any later lineage re-evaluation would re-list the store and see
        # this call's own partitioned output under the pre-append resolved
        # schema. Checkpointing severs the lineage — the verdict is
        # RDD-block-backed and never touches the store files again.
        .localCheckpoint(eager=True)
    )

    accepted = verdict.filter(F.col("dup_of").isNull()).select(id_col)
    new_state = keyed.join(accepted, id_col)
    # one file per band per increment (repartition puts each band in one
    # task): without this, every shuffle partition writes its own file
    # into every band directory — ~partitions× the files, and every later
    # micro-batch pays the listing + footer cost on the store read
    new_state.repartition("band").write.mode("append").partitionBy("band").parquet(
        store_dir
    )
    keyed.unpersist()
    return verdict


def compact_neardup_store(spark: SparkSession, store_dir: str) -> tuple[int, int]:
    """Offline compaction for the accumulated band-key store. Two things
    accumulate under at-least-once delivery and per-batch appends:

    * duplicate rows — a replayed batch re-appends its accepted docs' band
      keys (documented at the top of this module as "an offline-compaction
      concern, not a correctness one"): verdicts stay correct because
      ``dup_of`` takes a MIN over candidates, but every duplicate store row
      costs join work in every later micro-batch;
    * small files — each micro-batch appends one file per band partition,
      so a long-running stream turns each band directory into thousands of
      tiny parquet files (listing + footer overhead dominates the scan).

    Compaction is a full-row ``dropDuplicates`` (replays append IDENTICAL
    rows — id, band, band_key and signature longs are all deterministic
    functions of the document) plus a ``repartition("band")`` so each band
    partition lands in exactly one task → ONE file per band, written
    ``partitionBy("band")`` like the live store. The rewrite goes to
    ``<store>__compacting`` and `fsutil.replace_dir` swaps it in (NOT
    atomic: run compaction with the stream STOPPED, between deployments /
    from a maintenance job, never concurrently with an appending batch).

    Returns ``(rows_before, rows_after)``.
    """
    before_df = spark.read.parquet(store_dir)
    before = before_df.count()
    tmp = store_dir.rstrip("/") + fsutil.COMPACTING
    (
        before_df.dropDuplicates()
        .repartition("band")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(tmp)
    )
    after = spark.read.parquet(tmp).count()  # footer-stats count, cheap
    fsutil.replace_dir(spark, store_dir)
    return before, after


