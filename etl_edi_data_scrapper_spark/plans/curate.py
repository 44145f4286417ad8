"""Corpus-curation plan: the operable form of the training-data side.

`run-job` makes the reference's EDI pipelines (map/merge/enrich —
`src/Command/ConsumerCommand.php` parity) operable from the CLI; this
module does the same for the LLM-pipeline operators, which were
previously reachable only through the benchmark suite. One call (or
``python -m etl_edi_data_scrapper_spark curate``) runs a document
corpus through the selected quality/dedup gates and emits one verdict
row per document — the artifact a pre-training data pipeline actually
ships.

Stage menu (each stage = columns + a boolean ``<stage>_keep``; the
final ``curate_keep`` is the AND of every selected stage's verdict):

  quality   heuristic language ID + composite quality score
            (functions/text.py) — narrow projection in the scan stage
  gopher    Rae 2021 table A1 repetition rules, n-gram AND line/para
            families (functions/gopher.py) — zero-shuffle per-row folds
  c4        C4 line-level cleaning rules (functions/c4.py, Raffel 2020
            §2.2) — page verdict only here; run add_c4_features
            directly for the cleaned text (needs newline-bearing text;
            on a newline-free corpus every page fails min-sentences).
            Includes the bad-words page rule (``c4_badwords_keep``) —
            placeholder list by default, swap the real one in via
            ``badwords=`` / ``--blocklist PATH``
  xent      unigram cross-entropy band — corpus-self-fit LM by
            default, or the CCNet deploy shape against a PERSISTED
            reference LM (``xent_lm=`` / ``--xent-lm PATH``, built by
            ``fit-lm``)
  bxent     bigram stupid-backoff cross-entropy band — md5-half
            self-fit by default, or against a PERSISTED reference LM
            (``bxent_lm=`` / ``--bxent-lm PATH``, built by ``fit-lm
            --bigram``); the word-order signal xent cannot see
  exact     exact-duplicate drop (16-byte fingerprint shuffle, lowest
            doc id is canonical)
  minhash   MinHash-LSH candidate generation + exact-Jaccard verify;
            a doc is dropped when a LOWER-id doc verifies >= threshold
  spans     corpus-wide duplicate-substring CUT (span_dedup.
            exact_substr_dedup, ``spans_min_len`` tokens): boilerplate
            passages vanish from all but their first occurrence and the
            cleaned text ships as ``spans_clean_text``; ``spans_keep``
            drops docs left empty (pure-boilerplate pages)
  linedup   CCNet-style CROSS-document line dedup (span_dedup.
            dedup_lines_across_corpus, Wenzek 2020 §3.1): every line
            occurring more than once corpus-wide is cut from all but
            its first occurrence; cleaned text ships as
            ``linedup_clean_text``; ``linedup_keep`` drops docs whose
            every line was boilerplate. The line-grain sibling of
            spans at a fraction of the cost — run it first of the two
  urls      (needs ``url_col=`` / ``--url-col``) URL curation
            (functions/urls.py): canonical-key dedup (``is_url_dup`` —
            lower id wins) and registered-domain blocklisting
            (``domain_blocked``, list via ``url_blocklist=`` /
            ``--domain-blocklist``); ``urls_keep`` = neither. The
            cheapest gate — run it first in a staged deploy
  bloom     (needs ``benchmark=`` / ``--benchmark``) memory-bounded
            contamination SCREEN: every benchmark span in a bloom
            filter stored as a bounded position relation
            (functions/bloom.py); flags ``bloom_contaminated`` docs.
            A screen, not a verdict — it feeds the decon tier and
            costs one ≤ m-row broadcast however large the benchmark.
  decon     (needs ``benchmark=``) SURGICAL decontamination: cut every
            token covered by a width-token sliding window that also
            appears in the benchmark (span_dedup.scrub_benchmark_spans)
            and emit ``decon_text``. Two-tier by default: when the
            bloom stage is also selected, the exact scrub runs ONLY on
            bloom-flagged docs (the deploy shape bloom.py documents) —
            unflagged docs pass through untouched, no false negatives
            (the bloom has none by construction). ``decon_keep`` drops
            docs whose text is entirely benchmark leak.
  classifier (opt-in: --clf-reference-col trains here with the
            reference docs as the positive class, or --clf-model scores
            under a PERSISTED integer-perceptron model with zero
            training jobs; --clf-model-out exports the freshly trained
            model)

Every stage is the same Spark-first machinery the hash-checked gate
queries run — this module only composes and labels it. Scale shape is
therefore inherited: the only shuffles are the ones the stages already
own (fingerprint, token counts, LSH bands); verdict assembly is a
chain of left joins on the id, which AQE plans as broadcasts while
verdict frames are small and as co-partitioned joins at scale.

Stage INDEPENDENCE: every stage reads the RAW input text — verdicts
compose by AND, and cleaned-text outputs (``spans_clean_text``,
``decon_text``, the c4 stage's page verdict) are parallel views, not a
chained rewrite. A pipeline that wants "spans-cleaned THEN
decontaminated" text chains two curate_corpus calls (or the underlying
functions) explicitly; implicit chaining would make every stage's
verdict depend on stage ORDER, which this composition deliberately
avoids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from etl_edi_data_scrapper_spark import fsutil

ALL_STAGES = (
    "quality", "gopher", "c4", "xent", "bxent", "exact", "minhash", "spans",
    "linedup",
)
DECON_STAGES = ("bloom", "decon")  # require a benchmark frame
URL_STAGES = ("urls",)  # require a url_col


def _psl_fingerprint(psl) -> str | None:
    """Stage-config form of the PSL argument: path strings compare as
    themselves; an inline rule dict compares by CONTENT hash — the r11
    review caught the previous "<dict>" placeholder treating any two
    rule sets as equal, which let a resume silently mix registered-domain
    regimes."""
    if isinstance(psl, (str, type(None))):
        return psl
    import hashlib
    import json

    def _norm(v):
        # json-ify every non-JSON value deterministically: sets/tuples
        # become sorted-where-sortable lists, anything else its repr —
        # a mixed-type set must fingerprint stably, not TypeError from
        # inside the hash (and a config error should name the argument)
        if isinstance(v, (set, frozenset, tuple)):
            try:
                return sorted(v)
            except TypeError:
                return sorted(map(repr, v))
        return repr(v)

    try:
        blob = json.dumps(psl, sort_keys=True, default=_norm)
    except (TypeError, ValueError) as exc:
        raise ValueError(
            f"psl rule dict is not fingerprintable ({exc}); pass a path "
            "string or a JSON-serializable dict"
        ) from exc
    return "dict:" + hashlib.md5(blob.encode()).hexdigest()


def _check_stage_config(spark: SparkSession, stage_dir: str, config: dict) -> None:
    """Write-or-verify the stage dir's parameter fingerprint: resuming
    into a dir whose completed stages were computed under DIFFERENT
    parameters would silently mix verdict regimes — refuse instead. The
    input corpus itself is not fingerprinted (module docstring caveat).
    Read and written through `fsutil`, on the stage dir's own
    filesystem (``file://`` / ``hdfs://`` included)."""
    import json

    path = f"{stage_dir.rstrip('/')}/_config.json"
    blob = json.dumps(config, sort_keys=True)
    prior = fsutil.read_text(spark, path)
    if prior is None:
        fsutil.write_text_atomic(spark, path, blob)
    elif prior != blob:
        raise ValueError(
            f"stage_dir {stage_dir!r} was built under different "
            f"parameters; use a fresh dir or delete it.\n"
            f"  prior: {prior}\n  now:   {blob}"
        )


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stages: tuple[str, ...] = ALL_STAGES,
    quality_min: float = 0.4,
    langs: tuple[str, ...] = ("en",),
    xent_band: tuple[int, int] = (2000, 6000),
    xent_lm=None,
    xent_lm_fingerprint: str | None = None,
    bxent_lm=None,
    bxent_lm_fingerprint: str | None = None,
    bxent_band: tuple[int, int] = (2000, 9000),
    minhash_threshold: float = 0.7,
    minhash_bands: int | str = 4,
    max_bucket: int | None = 256,
    spans_min_len: int = 8,
    clf_reference=None,
    clf_target_keep: float | None = None,
    clf_model=None,
    clf_model_fingerprint: str | None = None,
    clf_model_out: str | None = None,
    badwords: tuple[str, ...] | None = None,
    url_col: str | None = None,
    url_idna: bool = False,
    url_blocklist: tuple[str, ...] = (),
    psl: str | dict[str, tuple[str, ...]] | None = None,
    url_gate: bool = False,
    benchmark: DataFrame | None = None,
    benchmark_text_col: str | None = None,
    decon_width: int = 8,
    bloom_m: int = 1 << 16,
    bloom_k: int = 3,
    stage_dir: str | None = None,
) -> DataFrame:
    """Run ``docs`` through the selected curation stages; returns one row
    per document: the id, each stage's verdict columns, and the combined
    ``curate_keep``. ``clf_reference`` (a Column predicate marking the
    positive/reference class) enables the classifier stage;
    ``benchmark`` (a frame of held-out eval text) enables the
    bloom/decon decontamination tier.

    ``stage_dir`` makes the run RESTARTABLE: each stage's per-doc verdict
    frame is persisted to ``stage_dir/<stage>.parquet`` as soon as it is
    computed (stages therefore execute EAGERLY, in order, instead of
    fusing into the final sink's plan), and a rerun reads completed
    stages back instead of recomputing them — a 100 TB curation that
    dies in stage 7 of 9 resumes at stage 7 (the rollup idempotence
    discipline, applied per stage). A ``_config.json`` fingerprint of
    the stage-affecting parameters is written alongside; resuming into a
    stage dir built under different parameters raises instead of
    silently mixing verdict regimes. The docs frame itself is NOT
    fingerprinted — a changed input corpus needs a fresh stage dir."""
    unknown = set(stages) - set(ALL_STAGES) - set(DECON_STAGES) - set(URL_STAGES)
    if unknown:
        raise ValueError(
            f"curate_corpus: unknown stages {sorted(unknown)}; "
            f"choose from {ALL_STAGES + DECON_STAGES + URL_STAGES} "
            "(+ classifier via clf_reference)"
        )
    if set(stages) & set(DECON_STAGES) and benchmark is None:
        raise ValueError(
            "curate_corpus: the bloom/decon stages need a benchmark frame "
            "(--benchmark PATH on the CLI)"
        )
    if "urls" in stages and url_col is None:
        raise ValueError(
            "curate_corpus: the urls stage needs url_col= "
            "(--url-col on the CLI)"
        )
    if url_gate and "urls" not in stages:
        raise ValueError(
            "curate_corpus: url_gate=True needs the urls stage selected"
        )
    if stage_dir is not None:
        _check_stage_config(
            spark,
            stage_dir,
            {
                "stages": sorted(stages),
                # the verdict-defining inputs that are NOT stage knobs:
                # resuming under a different id/text column (or different
                # PSL RULES — hash the dict, "<dict>" hid rule changes,
                # r11 review) would silently mix verdict regimes
                "id_col": id_col,
                "text_col": text_col,
                "quality_min": quality_min,
                "langs": sorted(langs),
                "xent_band": list(xent_band),
                # a different reference LM moves every xent verdict: a
                # resume mixing models would mix band regimes
                "xent_lm": xent_lm_fingerprint
                if xent_lm is not None else None,
                "bxent_lm": bxent_lm_fingerprint
                if bxent_lm is not None else None,
                "bxent_band": list(bxent_band),
                "minhash_threshold": minhash_threshold,
                # a different banding changes the candidate sets: a
                # resume mixing bandings would mix near-dup verdicts
                "minhash_bands": minhash_bands,
                "max_bucket": max_bucket,
                "spans_min_len": spans_min_len,
                "clf_reference": str(clf_reference) if clf_reference is not None else None,
                # a different keep-budget moves the clf threshold: a
                # resume mixing cutoffs would mix verdict regimes
                "clf_target_keep": clf_target_keep,
                "clf_model": clf_model_fingerprint
                if clf_model is not None else None,
                "badwords": sorted(badwords) if badwords else None,
                "url_col": url_col,
                # idna rewrites every IDN row's canonical key: a resume
                # mixing regimes would silently re-admit/re-drop IDN dups
                "url_idna": url_idna,
                "url_blocklist": sorted(url_blocklist),
                "psl": _psl_fingerprint(psl),
                "url_gate": url_gate,
                "benchmark": benchmark is not None,
                "benchmark_text_col": benchmark_text_col,
                "decon_width": decon_width,
                "bloom_m": bloom_m,
                "bloom_k": bloom_k,
            },
        )

    def _staged(name: str, build) -> DataFrame:
        """Compute-or-resume one stage's per-doc frame. Without a
        stage_dir this is just ``build()`` (fully lazy, single plan);
        with one, a completed stage (parquet _SUCCESS present) is read
        back verbatim and an incomplete one is computed, persisted, then
        read back — so every downstream consumer sees the SAME bytes a
        resumed run would."""
        if stage_dir is None:
            return build()
        path = f"{stage_dir.rstrip('/')}/{name}.parquet"
        if fsutil.exists(spark, f"{path}/_SUCCESS"):
            return spark.read.parquet(path)
        build().write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    out = docs.select(F.col(id_col))
    keeps: list[F.Column] = []

    def _urls_frame() -> DataFrame:
        from etl_edi_data_scrapper_spark.functions.urls import (
            add_registered_domain,
            flag_blocked_domains,
            url_dedup_verdicts,
        )

        return flag_blocked_domains(
            add_registered_domain(
                url_dedup_verdicts(
                    docs.select(F.col(id_col), F.col(url_col)),
                    url_col=url_col,
                    id_col=id_col,
                    idna=url_idna,
                ),
                url_col=url_col,
                psl=psl,
            ),
            url_col=url_col,
            domains=url_blocklist,
            # reuse the domain just computed — with a PSL, extracting
            # again would run the whole per-depth join chain twice
            domain_col="url_domain",
        ).select(
            id_col,
            "canonical_url",
            "is_url_dup",
            "url_domain",
            "domain_blocked",
            (~F.col("is_url_dup") & ~F.col("domain_blocked")).alias("urls_keep"),
        )

    # url_gate: run URL curation FIRST — the cheapest gate, and the order
    # every real web pipeline uses (C4/CCNet/RefinedWeb gate on URL before
    # any text op) — and feed only the SURVIVORS to the text stages. Docs
    # gated out carry NULL text-stage columns (never computed) and a False
    # curate_keep; text-stage semantics (dedup groups, LM fits, the
    # classifier's reference pool) see the URL-deduped corpus, exactly as
    # a staged deploy would.
    stage_docs = docs
    stage_join = "inner"
    if url_gate:
        u = _staged("urls", _urls_frame)
        out = out.join(u, id_col)
        keeps.append(F.col("urls_keep"))
        stage_docs = docs.join(
            u.filter(F.col("urls_keep")).select(id_col), id_col
        )
        stage_join = "left"

    if "quality" in stages:
        from etl_edi_data_scrapper_spark.functions.text import lang_id, quality_score

        q = _staged(
            "quality",
            lambda: stage_docs.select(
                F.col(id_col),
                lang_id(text_col).alias("lang_pred"),
                quality_score(text_col).alias("quality"),
            ).withColumn(
                "quality_keep",
                F.col("lang_pred").isin(*langs) & (F.col("quality") >= quality_min),
            ),
        )
        out = out.join(q, id_col, stage_join)
        keeps.append(F.col("quality_keep"))

    if "gopher" in stages:
        from etl_edi_data_scrapper_spark.functions.gopher import (
            add_gopher_features,
            add_gopher_line_features,
        )

        g = _staged(
            "gopher",
            lambda: add_gopher_line_features(
                add_gopher_features(
                    stage_docs.select(id_col, text_col), text_col=text_col
                ),
                text_col=text_col,
            ).select(id_col, "gopher_keep", "gopher_line_keep"),
        )
        out = out.join(g, id_col, stage_join)
        keeps += [F.col("gopher_keep"), F.col("gopher_line_keep")]

    if "c4" in stages:
        from etl_edi_data_scrapper_spark.functions.c4 import (
            C4_BADWORDS_PLACEHOLDER,
            add_c4_badwords,
            add_c4_features,
        )

        c = _staged(
            "c4",
            lambda: add_c4_badwords(
                add_c4_features(
                    stage_docs.select(id_col, text_col), text_col=text_col
                ),
                text_col=text_col,
                words=badwords or C4_BADWORDS_PLACEHOLDER,
            ).select(
                id_col, "c4_n_kept", "c4_keep", "c4_badword_hits", "c4_badwords_keep"
            ),
        )
        out = out.join(c, id_col, stage_join)
        keeps += [F.col("c4_keep"), F.col("c4_badwords_keep")]

    if "xent" in stages:
        from etl_edi_data_scrapper_spark.functions.text import unigram_cross_entropy

        x = _staged(
            "xent",
            lambda: unigram_cross_entropy(
                stage_docs, id_col=id_col, text_col=text_col,
                lo_milli=xent_band[0], hi_milli=xent_band[1],
                lm=xent_lm,
            ).select(id_col, "xent_milli", F.col("keep").alias("xent_keep")),
        )
        out = out.join(x, id_col, stage_join)
        keeps.append(F.col("xent_keep"))

    if "bxent" in stages:
        from etl_edi_data_scrapper_spark.functions.text import bigram_cross_entropy

        b = _staged(
            "bxent",
            lambda: bigram_cross_entropy(
                stage_docs, id_col=id_col, text_col=text_col,
                lo_milli=bxent_band[0], hi_milli=bxent_band[1],
                lm=bxent_lm,
            ).select(id_col, "bxent_milli", F.col("keep").alias("bxent_keep")),
        )
        out = out.join(b, id_col, stage_join)
        keeps.append(F.col("bxent_keep"))

    if "exact" in stages:
        from etl_edi_data_scrapper_spark.functions.text import fingerprint

        def _exact_frame() -> DataFrame:
            fp = stage_docs.select(
                F.col(id_col), fingerprint(F.col(text_col)).alias("__fp")
            )
            return fp.withColumn(
                "is_exact_dup",
                F.col(id_col) > F.min(id_col).over(W.partitionBy("__fp")),
            ).select(id_col, "is_exact_dup")

        dup = _staged("exact", _exact_frame)
        out = out.join(dup, id_col, stage_join)
        keeps.append(~F.col("is_exact_dup"))

    if "minhash" in stages:
        from etl_edi_data_scrapper_spark.functions.dedup import (
            jaccard_pairs,
            minhash_candidate_pairs,
        )

        def _minhash_frame() -> DataFrame:
            # minhash_bands="auto": plan (b, r) from the verify threshold
            # via the MMDS S-curve (plan_lsh_bands) instead of the fixed
            # 4-band default — candidates align with what jaccard_pairs
            # will accept, so fewer wasted verifications off-threshold
            pairs, bound = minhash_candidate_pairs(
                stage_docs, id_col=id_col, text_col=text_col,
                max_bucket=max_bucket, with_bound=True,
                bands=minhash_bands, threshold=minhash_threshold,
            )
            verified = jaccard_pairs(
                stage_docs, pairs, id_col=id_col, text_col=text_col,
                threshold=minhash_threshold, pair_bound=bound,
            )
            # pair convention is a < b: b always has a lower-id near-dup
            dup_ids = verified.select(F.col("b").alias(id_col)).distinct()
            return stage_docs.select(F.col(id_col)).join(
                dup_ids.withColumn("is_near_dup", F.lit(True)), id_col, "left"
            ).withColumn("is_near_dup", F.coalesce("is_near_dup", F.lit(False)))

        nd = _staged("minhash", _minhash_frame)
        out = out.join(nd, id_col, stage_join)
        keeps.append(~F.col("is_near_dup"))

    if "linedup" in stages:
        from etl_edi_data_scrapper_spark.functions.span_dedup import (
            dedup_lines_across_corpus,
        )

        ldp = _staged("linedup", lambda: dedup_lines_across_corpus(
            stage_docs.select(F.col(id_col), F.col(text_col)),
            id_col=id_col,
            text_col=text_col,
        ).select(
            id_col,
            F.col("n_lines").alias("linedup_n_lines"),
            F.col("n_lines_cut").alias("linedup_lines_cut"),
            F.col("clean_text").alias("linedup_clean_text"),
            # a doc whose every line was boilerplate contributes nothing
            (F.col("n_lines_cut") < F.col("n_lines")).alias("linedup_keep"),
        ))
        out = out.join(ldp, id_col, stage_join)
        keeps.append(F.col("linedup_keep"))

    if "urls" in stages and not url_gate:
        out = out.join(_staged("urls", _urls_frame), id_col)
        keeps.append(F.col("urls_keep"))

    if "spans" in stages:
        from etl_edi_data_scrapper_spark.functions.span_dedup import (
            exact_substr_dedup,
        )

        sp = _staged("spans", lambda: exact_substr_dedup(
            stage_docs.select(F.col(id_col), F.col(text_col)),
            id_col=id_col,
            text_col=text_col,
            min_len=spans_min_len,
        ).select(
            id_col,
            F.col("n_spans_cut").alias("spans_cut"),
            F.col("n_tokens_cut").alias("spans_tokens_cut"),
            F.col("clean_text").alias("spans_clean_text"),
            # a doc reduced to nothing was pure boilerplate — drop it
            (F.col("n_tokens_cut") < F.col("n_tokens")).alias("spans_keep"),
        ))
        out = out.join(sp, id_col, stage_join)
        keeps.append(F.col("spans_keep"))

    if "bloom" in stages:
        from etl_edi_data_scrapper_spark.functions.bloom import (
            bloom_span_contamination,
        )

        scr = _staged("bloom", lambda: bloom_span_contamination(
            stage_docs,
            benchmark.select(
                F.col(benchmark_text_col or text_col).alias(text_col)
            ),
            id_col=id_col,
            text_col=text_col,
            width=decon_width,
            m=bloom_m,
            k=bloom_k,
        ).select(id_col, "n_spans_maybe_seen", "bloom_contaminated"))
        if stage_dir is None:
            # the screen feeds the decon tier below AND the verdict frame;
            # cut the recompute (the probe side explodes every doc span
            # twice otherwise). Staged runs get this for free: the stage
            # parquet IS the materialization.
            scr = scr.localCheckpoint(eager=False)
        out = out.join(scr, id_col, stage_join)
        # a screen, not a verdict: bloom_contaminated does NOT gate
        # curate_keep on its own — the exact tier decides

    if "decon" in stages:
        from etl_edi_data_scrapper_spark.functions.span_dedup import (
            scrub_benchmark_spans,
        )

        def _decon_frame() -> DataFrame:
            base = stage_docs.select(F.col(id_col), F.col(text_col))
            if "bloom" not in stages:
                return scrub_benchmark_spans(
                    base, benchmark, id_col=id_col, text_col=text_col,
                    bench_text_col=benchmark_text_col, width=decon_width,
                ).select(
                    id_col,
                    F.col("n_tokens").cast("int").alias("n_tokens"),
                    F.col("n_tokens_cut").cast("int").alias("n_tokens_cut"),
                    "decon_text",
                )
            # two-tier: the exact scrub touches ONLY bloom-flagged docs
            # (no false negatives possible — the bloom has none); the
            # clean majority passes through as a projection
            flagged_ids = scr.filter(F.col("bloom_contaminated")).select(id_col)
            flagged = base.join(flagged_ids, id_col)
            cut = scrub_benchmark_spans(
                flagged, benchmark, id_col=id_col, text_col=text_col,
                bench_text_col=benchmark_text_col, width=decon_width,
            )
            clean = base.join(flagged_ids, id_col, "left_anti").select(
                F.col(id_col),
                F.size(F.split(F.col(text_col), " ")).cast("int").alias("n_tokens"),
                F.lit(0).alias("n_tokens_cut"),
                F.col(text_col).alias("decon_text"),
            )
            return cut.select(
                id_col,
                F.col("n_tokens").cast("int").alias("n_tokens"),
                F.col("n_tokens_cut").cast("int").alias("n_tokens_cut"),
                "decon_text",
            ).unionByName(clean)

        d = _staged("decon", _decon_frame).withColumn(
            "decon_keep", F.col("n_tokens_cut") < F.col("n_tokens")
        ).drop("n_tokens")
        out = out.join(d, id_col, stage_join)
        keeps.append(F.col("decon_keep"))

    if clf_reference is not None and clf_model is not None:
        raise ValueError(
            "pass clf_reference (train here) OR clf_model (score under a "
            "persisted model), not both"
        )
    if clf_model is not None:
        from etl_edi_data_scrapper_spark.functions.quality_classifier import (
            classify_corpus,
        )

        w_m, bias_m, nb_m = clf_model

        def _clf_scored() -> DataFrame:
            scored = classify_corpus(
                stage_docs, w_m, bias_m, nb_m,
                id_col=id_col, text_col=text_col,
            )
            if clf_target_keep is not None:
                thr = scored.agg(F.expr(
                    f"percentile(clf_score, {1.0 - clf_target_keep})"
                ).alias("t")).first()["t"]
                scored = scored.withColumn(
                    "clf_keep", F.col("clf_score") > F.lit(float(thr))
                )
            return scored

        clf = _staged("clf", _clf_scored)
        out = out.join(clf, id_col, stage_join)
        keeps.append(F.col("clf_keep"))
    elif clf_reference is not None:
        from etl_edi_data_scrapper_spark.functions.quality_classifier import (
            fit_reference_classifier,
            save_model,
        )

        def _clf_fit() -> DataFrame:
            if clf_model_out is None:
                return fit_reference_classifier(
                    stage_docs, clf_reference, id_col=id_col,
                    text_col=text_col, target_keep=clf_target_keep,
                )
            scored, (w0, b0) = fit_reference_classifier(
                stage_docs, clf_reference, id_col=id_col,
                text_col=text_col, target_keep=clf_target_keep,
                return_model=True,
            )
            # the pipeline fit uses the module default hash space (64
            # buckets) — recorded in the sidecar so later --clf-model
            # runs featurize identically
            save_model(spark, clf_model_out, w0, b0, 64)
            return scored

        clf = _staged("clf", _clf_fit)
        out = out.join(clf, id_col, stage_join)
        keeps.append(F.col("clf_keep"))

    keep = F.lit(True)
    for k in keeps:
        keep = keep & k
    return out.withColumn("curate_keep", keep)
