"""Operational audit for persisted store layouts (r12 verdict #7).

The persisted ANN index (``_meta.json`` encoding flags), the near-dup
store and the r14 fit artifacts (classifier / language models, unigram /
bigram reference LMs) each carry their own layout contract.
``describe_store`` is the one audit surface over all of them: it
identifies the layout, reads the sidecar(s), and counts rows/files, so
operational drift (a stranded compaction) is visible from the CLI
(``store-info``). Unknown layouts REFUSE (a crisp
error beats a half-parsed report that normalizes guessing).

Detection is by the stores' own contracts, not path names:

- ``ivfpq-index``: `_meta.json` beside `centroids/` + `codes/` +
  `codebooks/` (`save_ivfpq_index` layout). Extras: cell count, codes
  per cell min/max, leftover compaction dirs (`codes__precompact` /
  `codes__compacting` — a crashed `ann-compact`).
- ``classifier-model`` / ``lang-classifier-model``: a JSON model file
  with its ``kind``.
- ``bigram-lm``: `uni/` + `big/` count tables; ``unigram-lm``: parquet
  of exactly (`term`, `cnt`).
- ``neardup-store``: parquet with `band`/`band_key`/doc-id columns
  (`dedup_batch_against_store`). Extras: band count, docs.

Everything reads through `fsutil` (the Hadoop FileSystem API) so
`hdfs://`/`s3a://` stores audit identically to local paths, and a store
whose compaction died mid-swap is named, not reported as unknown.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from etl_edi_data_scrapper_spark import fsutil


def _is_file(spark: SparkSession, path: str) -> bool:
    fs, p = fsutil._fs(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isFile())


def _read_json_sidecar(spark: SparkSession, path: str) -> dict | None:
    import json

    text = fsutil.read_text(spark, path)
    return json.loads(text) if text else None


def describe_store(spark: SparkSession, path: str) -> dict[str, Any]:
    """One dict describing whatever store lives at ``path`` (see module
    docstring for the families); raises ValueError for layouts none of
    the store contracts match, IOError for a parquet store whose
    compaction died mid-swap (`fsutil.read_store`)."""
    path = path.rstrip("/")
    out: dict[str, Any] = {"path": path}

    # --- ivfpq index: sidecar + three component dirs -------------------
    if fsutil.exists(spark, f"{path}/_meta.json") and all(
        fsutil.exists(spark, f"{path}/{d}") for d in ("centroids", "codes", "codebooks")
    ):
        from pyspark.sql import functions as F

        from etl_edi_data_scrapper_spark.functions.similarity import (
            load_ivfpq_meta,
        )

        out["type"] = "ivfpq-index"
        out["meta"] = load_ivfpq_meta(spark, path)
        codes = spark.read.parquet(f"{path}/codes")
        per_cell = codes.groupBy("centroid_id").count().collect()
        out["rows"] = int(sum(r["count"] for r in per_cell))
        out["cells"] = len(per_cell)
        if per_cell:
            counts = sorted(r["count"] for r in per_cell)
            out["codes_per_cell"] = {
                "min": int(counts[0]), "max": int(counts[-1]),
            }
        out["centroid_rows"] = spark.read.parquet(
            f"{path}/centroids"
        ).count()
        cb = spark.read.parquet(f"{path}/codebooks")
        agg = cb.agg(
            F.countDistinct("sub_id").alias("m"),
            F.countDistinct("code_id").alias("n"),
        ).first()
        out["codebook_geometry"] = {"m_sub": agg["m"], "n_codes": agg["n"]}
        out["code_data_files"] = fsutil.data_files(spark, f"{path}/codes")
        leftovers = [
            d
            for d in ("codes" + fsutil.PRECOMPACT, "codes" + fsutil.COMPACTING)
            if fsutil.exists(spark, f"{path}/{d}")
        ]
        if leftovers:
            out["crashed_compaction_dirs"] = leftovers
        return out

    # --- r14 fit artifacts: every one carries a 'kind' ------------------
    # model JSON sidecar files (quality / language classifier) — only
    # attempted when the path IS a file (read_text on a dir raises), and
    # non-JSON file contents just fall through to the refusal
    file_meta = None
    if _is_file(spark, path):
        try:
            file_meta = _read_json_sidecar(spark, path)
        except ValueError:
            file_meta = None
    if isinstance(file_meta, dict) and file_meta.get("kind") in (
        "integer_perceptron_v1", "multiclass_integer_perceptron_v1",
    ):
        out["type"] = (
            "classifier-model"
            if file_meta["kind"] == "integer_perceptron_v1"
            else "lang-classifier-model"
        )
        out["kind"] = file_meta["kind"]
        out["n_buckets"] = file_meta.get("n_buckets")
        if "w" in file_meta and isinstance(file_meta["w"], dict):
            out["classes"] = sorted(file_meta["w"])
        return out

    # bigram reference LM: uni/ + big/ count tables
    if fsutil.exists(spark, f"{path}/uni") and fsutil.exists(spark, f"{path}/big"):
        from pyspark.sql import functions as F

        uni = spark.read.parquet(f"{path}/uni")
        big = spark.read.parquet(f"{path}/big")
        if {"term", "ucnt"} <= set(uni.columns) and {
            "prev", "cur", "bcnt"
        } <= set(big.columns):
            out["type"] = "bigram-lm"
            out["terms"] = uni.count()
            out["bigrams"] = big.count()
            out["total_tokens"] = int(
                uni.agg(F.sum("ucnt").alias("t")).first()["t"] or 0
            )
            return out

    # --- parquet-backed stores, told apart by their contract columns ---
    df = fsutil.read_store(spark, path)
    if df is None:
        raise ValueError(
            f"{path!r} matches no known store layout (ivfpq-index, "
            "neardup-store, classifier-model, lang-classifier-model, "
            "unigram-lm, bigram-lm) — refusing to guess."
        )
    cols = set(df.columns)

    from pyspark.sql import functions as F

    if {"band", "band_key"} <= cols:
        out["type"] = "neardup-store"
        out["rows"] = df.count()
        id_cols = [c for c in df.columns if c not in {"band", "band_key"}
                   and not c.startswith("h")]
        out["bands"] = df.select("band").distinct().count()
        if id_cols:
            out["docs"] = df.select(id_cols[0]).distinct().count()
        out["data_files"] = fsutil.data_files(spark, path)
        return out

    if cols == {"term", "cnt"}:
        out["type"] = "unigram-lm"
        out["terms"] = df.count()
        out["total_tokens"] = int(
            df.agg(F.sum("cnt").alias("t")).first()["t"] or 0
        )
        out["data_files"] = fsutil.data_files(spark, path)
        return out

    raise ValueError(
        f"{path!r} is parquet but matches no known store contract "
        f"(columns: {sorted(cols)}) — refusing to guess."
    )
