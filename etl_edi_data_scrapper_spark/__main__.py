"""CLI entry point — the operational surface a user of the reference's
``bin/console app:consume`` switches to (`src/Command/ConsumerCommand.php`).

    python -m etl_edi_data_scrapper_spark consume --message job.json
        one message → one job, with the reference's stats line
        (supplier name/id, wall time, rows out). The message is a file
        path or '-' for stdin (the sandboxed stand-in for one Kafka
        message; wire kafka via streaming.consumer in production).

    python -m etl_edi_data_scrapper_spark run-job --config job.json \
        [--sink parquet|jsonl|collect --sink-path PATH]
        compile + execute one job config into a sink.

    python -m etl_edi_data_scrapper_spark serve --messages DIR \
        --checkpoint DIR --output DIR
        the streaming upgrade of the one-message loop: every JSON line
        dropped into DIR is a job; outputs land under OUTPUT/supplier_id=N.

    python -m etl_edi_data_scrapper_spark compact-store --store DIR
        offline maintenance for the incremental near-dup band-key store:
        drop replay-duplicated rows, coalesce each band partition to one
        file. Run with the ingestion stream STOPPED.

    python -m etl_edi_data_scrapper_spark rollup-merge --rollup DIR \
        --events PATH [--ts-col ts --keys event_type --value-col value] \
        [--batch-id N]
        fold one batch of events (parquet/JSONL) into the continuous
        daily-rollup table: O(batch + touched days), only touched day
        partitions rewritten. With --batch-id, use the replay-IDEMPOTENT
        per-batch-partial store (re-running the same id never
        double-counts; read via operators.rollup.read_rollup).

    python -m etl_edi_data_scrapper_spark rollup-compact --rollup DIR
        fold a per-batch-partial rollup's history into one partial per
        day. Offline only; compact past the replay horizon.

    python -m etl_edi_data_scrapper_spark fit-lm --docs PATH \
        --output DIR [--bigram]
        fit a unigram (or bigram stupid-backoff) reference LM on a
        curated corpus and persist it as parquet — the artifact
        curate --xent-lm / --bxent-lm scores crawls against (the CCNet
        deploy shape: fit once, score every crawl).

    python -m etl_edi_data_scrapper_spark learn-bpe --docs PATH \
        --output merges.txt [--n-merges N --min-count C]
        learn a BPE merge table from the corpus (Sennrich 2016 over the
        distributed word histogram) and persist it as standard
        GPT-2-format merges.txt — the artifact bpe_token_count_exact
        and pack_by_token_budget consume.

    python -m etl_edi_data_scrapper_spark curate --docs PATH \
        --output DIR [--stages quality,gopher,xent,bxent,exact,minhash] \
        [--clf-reference-col COL --clf-reference-value VAL]
        run a document corpus through the training-data curation gates
        (plans/curate.py) and write one verdict row per document —
        the LLM-pipeline counterpart of run-job. Prints per-stage drop
        counts and the final keep fraction.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _read_message(path: str) -> dict:
    raw = sys.stdin.read() if path == "-" else open(path).read()
    return json.loads(raw)


def main(argv: list[str] | None = None, engine=None) -> int:
    p = argparse.ArgumentParser(prog="etl_edi_data_scrapper_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pc = sub.add_parser("consume", help="process ONE job message (app:consume parity)")
    pc.add_argument("--message", required=True, help="path to job-config JSON, or '-'")

    pr = sub.add_parser("run-job", help="compile + run one job config")
    pr.add_argument("--config", required=True)
    pr.add_argument("--sink", default="collect", choices=["parquet", "jsonl", "collect"])
    pr.add_argument("--sink-path")

    ps = sub.add_parser("serve", help="streaming job loop over a message directory")
    ps.add_argument("--messages", required=True)
    ps.add_argument("--checkpoint", required=True)
    ps.add_argument("--output", required=True)
    ps.add_argument("--timeout-s", type=float, default=None,
                    help="stop after N seconds (default: run until interrupted)")

    pk = sub.add_parser(
        "compact-store",
        help="offline near-dup store compaction (stream must be stopped)",
    )
    pk.add_argument("--store", required=True, help="band-key store directory")

    pm = sub.add_parser(
        "rollup-merge", help="fold an event batch into the continuous daily rollup"
    )
    pm.add_argument("--rollup", required=True, help="rollup table directory")
    pm.add_argument("--events", required=True, help="events batch (parquet dir or JSONL)")
    pm.add_argument("--ts-col", default="ts")
    pm.add_argument("--keys", default="event_type", help="comma-separated key columns")
    pm.add_argument("--value-col", default="value")
    pm.add_argument(
        "--batch-id",
        type=int,
        default=None,
        help="use the replay-idempotent per-batch-partial store, keyed by "
        "this id (re-running the same id never double-counts)",
    )

    pq = sub.add_parser(
        "rollup-compact",
        help="fold a per-batch-partial rollup's history into one partial "
        "per day (run with the merging stream STOPPED, past the replay horizon)",
    )
    pq.add_argument("--rollup", required=True, help="rollup table directory")
    pq.add_argument("--keys", default="event_type")

    pu = sub.add_parser(
        "curate",
        help="run a document corpus through the training-data curation "
        "gates; one verdict row per document",
    )
    pu.add_argument("--docs", required=True, help="corpus parquet path/dir")
    pu.add_argument("--output", required=True, help="verdict parquet output dir")
    pu.add_argument("--id-col", default="doc_id")
    pu.add_argument("--text-col", default="text")
    pu.add_argument(
        "--stages",
        default="quality,gopher,xent,bxent,exact,minhash",
        help="comma list: quality,gopher,c4,xent,bxent,exact,minhash,spans,"
        "urls,bloom,decon (urls needs --url-col; bloom/decon need --benchmark)",
    )
    pu.add_argument(
        "--benchmark",
        default=None,
        help="benchmark/eval-corpus parquet path: enables the bloom "
        "(screen) and decon (surgical span cut) stages; two-tier when "
        "both are selected — the exact scrub runs only on bloom-flagged "
        "docs",
    )
    pu.add_argument("--benchmark-text-col", default=None)
    pu.add_argument("--decon-width", type=int, default=8)
    pu.add_argument(
        "--url-col",
        default=None,
        help="URL column: enables the urls stage (canonical-key dedup + "
        "domain blocklist)",
    )
    pu.add_argument(
        "--domain-blocklist",
        default=None,
        help="registered-domain blocklist for the urls stage: text file, "
        "one domain per line",
    )
    pu.add_argument(
        "--psl",
        default=None,
        help="public-suffix list file (publicsuffix.org format) for "
        "registered-domain extraction in the urls stage; default is the "
        "6-entry stub in functions/urls.py",
    )
    pu.add_argument(
        "--url-gate",
        action="store_true",
        help="run the urls stage FIRST and feed only its survivors to "
        "the text stages (the order real web pipelines use; gated-out "
        "docs get NULL text-stage columns and curate_keep=false)",
    )
    pu.add_argument(
        "--url-idna",
        action="store_true",
        help="punycode-fold internationalized hosts before canonical-key "
        "dedup (the multilingual-crawl fix: m\u00fcnchen.de and "
        "xn--mnchen-3ya.de share one key); changes IDN rows' canonical "
        "keys, so a --stage-dir built without it refuses to resume",
    )
    pu.add_argument(
        "--domain-report",
        default=None,
        help="with the urls stage: also write a per-registered-domain "
        "triage table (doc count, URL-dup rate, mean quality in milli "
        "units, dup-rate flag) to this parquet path - the domain-level "
        "view RefinedWeb-style pipelines act on",
    )
    pu.add_argument(
        "--stage-dir",
        default=None,
        help="make the run restartable: persist each stage's verdict "
        "frame to this dir as it completes and resume past completed "
        "stages on rerun (parameter fingerprint checked; a changed "
        "corpus or config needs a fresh dir)",
    )
    pu.add_argument(
        "--spans-min-len",
        type=int,
        default=8,
        help="minimum duplicate-substring length for the spans stage",
    )
    pu.add_argument(
        "--blocklist",
        default=None,
        help="bad-words list for the c4 stage: text file, one word per "
        "line ('#' comments allowed); default is the placeholder list in "
        "functions/c4.py — swap in the published C4 blocklist here",
    )
    pu.add_argument("--quality-min", type=float, default=0.4)
    pu.add_argument("--langs", default="en", help="comma list of kept lang codes")
    pu.add_argument("--xent-lo", type=int, default=2000)
    pu.add_argument("--xent-hi", type=int, default=6000)
    pu.add_argument("--bxent-lo", type=int, default=2000)
    pu.add_argument("--bxent-hi", type=int, default=9000)
    pu.add_argument("--minhash-threshold", type=float, default=0.7)
    pu.add_argument(
        "--clf-reference-col",
        default=None,
        help="enable the classifier stage: column marking reference docs",
    )
    pu.add_argument(
        "--xent-lm", default=None,
        help="persisted unigram reference LM (fit-lm output): the xent "
        "stage scores against IT instead of self-fitting - fit once on "
        "a curated reference, score every crawl (CCNet deploy shape)",
    )
    pu.add_argument(
        "--bxent-lm", default=None,
        help="persisted bigram reference LM (fit-lm --bigram output): "
        "the bxent stage scores against IT instead of the md5-half "
        "self-fit",
    )
    pu.add_argument(
        "--minhash-bands", default="4",
        help="LSH band count for the minhash stage, or 'auto': plan "
        "(bands, rows) from the verify threshold via the MMDS S-curve "
        "(closed-form, zero jobs)",
    )
    pu.add_argument(
        "--clf-model", default=None,
        help="persisted classifier model (JSON sidecar from "
        "--clf-model-out or save_model): the classifier stage scores "
        "under IT with zero training jobs - mutually exclusive with "
        "--clf-reference-col",
    )
    pu.add_argument(
        "--clf-model-out", default=None,
        help="with --clf-reference-col: persist the freshly trained "
        "classifier model to this path for later --clf-model runs",
    )
    pu.add_argument(
        "--clf-target-keep", type=float, default=None,
        help="with the classifier stage: instead of the fixed score>0 "
        "cutoff, keep ~this fraction of documents - the threshold is the "
        "exact (1-target) percentile of the scored corpus (one 1-row "
        "aggregate)",
    )
    pu.add_argument(
        "--clf-reference-value",
        default=None,
        help="value of --clf-reference-col that labels the positive class",
    )

    pe = sub.add_parser(
        "dedup-embeddings",
        help="shard-bounded multi-pass SemDeDup over an embedding corpus; "
        "one verdict row per vector (keep / pass_dropped)",
    )
    pe.add_argument("--embeddings", required=True, help="embeddings parquet path/dir")
    pe.add_argument("--output", required=True, help="verdict parquet output dir")
    pe.add_argument("--id-col", default="vec_id")
    pe.add_argument("--vec-col", default="embedding")
    pe.add_argument("--threshold", type=float, default=0.9,
                    help="cosine similarity FLOOR: >= drops the higher id")
    pe.add_argument("--rows-per-shard", type=int, default=65536)
    pe.add_argument("--n-passes", type=int, default=2)
    pe.add_argument("--k-per-shard", type=int, default=8)
    pe.add_argument(
        "--bridge-tables", type=int, default=0,
        help="enable the cross-shard LSH bridge (2 is the measured "
        "sub-1%%-missed setting); drops record pass_dropped=-1",
    )
    pe.add_argument("--bridge-planes", type=int, default=16)
    pe.add_argument(
        "--target-missed-frac", type=float, default=None,
        help="auto-size rows_per_shard/n_passes from the duplication "
        "profile via the validated collision model (overrides "
        "--rows-per-shard/--n-passes)",
    )
    pe.add_argument("--max-rows-per-shard", type=int, default=262144,
                    help="memory bound for the auto-geometry planner")
    pe.add_argument("--family-size", type=int, default=None,
                    help="skip the duplication-profile probe and use this")

    pl = sub.add_parser(
        "fit-langid",
        help="train the multiclass integer-perceptron language ID on a "
        "labeled corpus and persist the model (JSON sidecar)",
    )
    pl.add_argument("--docs", required=True, help="labeled corpus parquet")
    pl.add_argument("--output", required=True, help="model JSON output path")
    pl.add_argument("--id-col", default="doc_id")
    pl.add_argument("--text-col", default="text")
    pl.add_argument("--label-col", default="lang")
    pl.add_argument(
        "--langs", default=None,
        help="comma list of class labels; default: every distinct value "
        "observed in --label-col (sorted)",
    )
    pl.add_argument("--n-buckets", type=int, default=64)
    pl.add_argument("--epochs", type=int, default=2)

    pg = sub.add_parser(
        "langid",
        help="score a corpus under a persisted fit-langid model (zero "
        "training jobs); one (id, lang_clf_pred, lang_clf_score) row "
        "per document",
    )
    pg.add_argument("--docs", required=True, help="corpus parquet path/dir")
    pg.add_argument("--model", required=True, help="fit-langid model JSON")
    pg.add_argument("--output", required=True, help="result parquet dir")
    pg.add_argument("--id-col", default="doc_id")
    pg.add_argument("--text-col", default="text")

    pf = sub.add_parser(
        "fit-lm",
        help="fit a unigram reference LM on a (curated) corpus and "
        "persist it as parquet - the artifact curate --xent-lm scores "
        "crawls against (the CCNet deploy shape)",
    )
    pf.add_argument("--docs", required=True, help="reference corpus parquet")
    pf.add_argument("--output", required=True, help="LM parquet output dir")
    pf.add_argument("--text-col", default="text")
    pf.add_argument(
        "--bigram", action="store_true",
        help="fit the bigram stupid-backoff model (uni/ + big/ count "
        "tables) instead of the unigram one - feeds curate --bxent-lm",
    )

    pb = sub.add_parser(
        "learn-bpe",
        help="learn a BPE merge table from a document corpus (Sennrich "
        "2016 over the distributed word histogram) and write standard "
        "GPT-2-format merges.txt",
    )
    pb.add_argument("--docs", required=True, help="corpus parquet path/dir")
    pb.add_argument("--output", required=True, help="merges.txt output path")
    pb.add_argument("--text-col", default="text")
    pb.add_argument("--n-merges", type=int, default=1000)
    pb.add_argument("--min-count", type=int, default=2,
                    help="histogram tail prune; raise it at web scale "
                    "instead of raising --max-words")
    pb.add_argument("--max-words", type=int, default=1_000_000,
                    help="driver histogram bound - the learn RAISES past "
                    "it rather than silently sampling")

    pa = sub.add_parser(
        "ann-index",
        help="build + persist an IVFADC (IVF + product-quantization) ANN "
        "index: coarse cells partitioned on disk, 8-byte codes instead "
        "of float vectors",
    )
    pa.add_argument("--embeddings", required=True, help="embeddings parquet path/dir")
    pa.add_argument("--output", required=True, help="index output dir")
    pa.add_argument("--id-col", default="vec_id")
    pa.add_argument("--vec-col", default="embedding")
    pa.add_argument("--dim", type=int, default=64)
    pa.add_argument(
        "--n-centroids", default="256",
        help="IVF cell count, or 'auto': the FAISS sizing rule — "
        "~8*sqrt(N) cells, capped so each cell keeps >= 39 training "
        "points (the faiss clustering warning threshold); the measured "
        "N and the decision are printed and recorded in _meta.json",
    )
    pa.add_argument("--m-sub", type=int, default=8)
    pa.add_argument("--n-codes", type=int, default=256)
    pa.add_argument(
        "--fit-fraction",
        type=float,
        default=None,
        help="with --train kmeans: fit quantizers on kmeans_fit's "
        "deterministic md5-bucket sample of this fraction of the corpus "
        "(the FAISS train-on-a-sample discipline) instead of m_sub x "
        "n_iters full passes; the final assignment still sees every row",
    )
    pa.add_argument(
        "--train", choices=["sample", "kmeans"], default="kmeans",
        help="codebook training: 'kmeans' (quality) or 'sample' (cheapest, "
        "deterministic)",
    )
    pa.add_argument(
        "--no-residual", action="store_true",
        help="encode raw vectors instead of residuals (residual encoding "
        "is the canonical IVFADC and strictly finer at the same budget)",
    )
    pa.add_argument(
        "--opq", nargs="?", const="on", default="off",
        choices=["on", "off", "auto"],
        help="OPQ rotation (Ge et al. 2013): 'on' (or bare --opq) builds "
        "the whole index in learned-rotation space; 'auto' MEASURES the "
        "decision — fits both quantizations on a bounded sample and "
        "rotates only if sample reconstruction MSE improves (rotation "
        "quality is corpus-dependent: measured −14%% recall isotropic / "
        "+25–48%% anisotropic, ANN_QUALITY_r13). The decision + both "
        "MSEs land in _meta.json (see store-info); the rotation rides "
        "_meta.json, so ann-query applies it automatically",
    )

    pn = sub.add_parser(
        "ann-query",
        help="top-k nearest neighbors from a persisted ann-index for a "
        "parquet of query vectors",
    )
    pn.add_argument("--index", required=True, help="ann-index dir")
    pn.add_argument("--queries", required=True, help="query parquet path/dir")
    pn.add_argument("--output", required=True, help="result parquet output dir")
    pn.add_argument("--id-col", default="vec_id", help="query id column")
    pn.add_argument("--vec-col", default="embedding", help="query vector column")
    pn.add_argument("--k", type=int, default=10)
    pn.add_argument(
        "--nprobe", default="8",
        help="cells probed per query, or 'auto': measure top-k overlap "
        "vs full-probe ADC on a bounded query sample and take the "
        "smallest probe count reaching --target-overlap (the FAISS "
        "autotune discipline; decision printed with its ladder)",
    )
    pn.add_argument("--target-overlap", type=float, default=0.9)
    pn.add_argument(
        "--tune-queries", type=int, default=50,
        help="--nprobe auto sample size (md5-lowest query ids)",
    )
    pn.add_argument(
        "--rerank-corpus",
        default=None,
        help="float-vector parquet (the primary store): ADC shortlists "
        "k x k-factor candidates, only those rows fetch their float "
        "originals and re-rank by exact L2 (the two-stage refinement "
        "ladder; output distances become exact)",
    )
    pn.add_argument("--k-factor", type=int, default=4)
    pn.add_argument(
        "--rerank-id-col",
        default=None,
        help="id column in --rerank-corpus (default: the index's id_col)",
    )
    pn.add_argument(
        "--rerank-vec-col",
        default=None,
        help="vector column in --rerank-corpus (default: --vec-col)",
    )
    pp2 = sub.add_parser(
        "ann-compact",
        help="offline file-layout compaction for a persisted ann-index's "
        "code store (one file per cell); run with writers/queries "
        "STOPPED, like compact-store",
    )
    pp2.add_argument("--index", required=True, help="ann-index dir")

    psi = sub.add_parser(
        "store-info",
        help="identify and audit a persisted store (ivfpq-index, "
        "neardup-store, fit artifacts): prints the sidecar(s) "
        "+ row/file counts as one JSON object; refuses unknown layouts",
    )
    psi.add_argument("--store", required=True, help="store dir or model file")

    pn.add_argument(
        "--residual",
        default="auto",
        choices=["auto", "yes", "no"],
        help="whether the index's codes are residual-encoded; 'auto' "
        "reads _meta.json and REFUSES if the flag is absent (a wrong "
        "guess ranks silently wrong)",
    )

    args = p.parse_args(argv)

    if engine is None:  # pragma: no cover - exercised via injected engine in tests
        from etl_edi_data_scrapper_spark.engine import Engine

        engine = Engine()

    if args.cmd == "consume":
        t0 = time.time()
        started = time.strftime("%Y-%m-%d %H:%M:%S")
        try:
            msg = _read_message(args.message)
            name = msg.get("name", "unknown")
            sid = msg.get("supplier_id", "unknown")
            print(f"INFO: Supplier ({name}) ({sid}) parsing started - {started}")
            rows = engine.run_job(msg, sink="collect")
            dt = round(time.time() - t0, 3)
            print(f"SUCCESS: Message processed | Time: {dt}s | Rows: {len(rows)}")
            return 0
        except Exception as e:
            dt = round(time.time() - t0, 3)
            print(f"ERROR: {e} | Time: {dt}s")
            return 1

    if args.cmd == "run-job":
        cfg = _read_message(args.config)
        if args.sink == "collect":
            rows = engine.run_job(cfg, sink="collect")
            for r in rows:
                print(json.dumps(r, default=str))
        else:
            if not args.sink_path:
                p.error("--sink-path required for parquet/jsonl sinks")
            engine.run_job(cfg, sink=args.sink, sink_path=args.sink_path)
        return 0

    if args.cmd == "compact-store":
        from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
            compact_neardup_store,
        )

        before, after = compact_neardup_store(engine.spark, args.store)
        print(f"SUCCESS: Store compacted | Rows: {before} -> {after}")
        return 0

    if args.cmd == "rollup-merge":
        from etl_edi_data_scrapper_spark.operators.rollup import (
            merge_daily_rollup,
            merge_daily_rollup_idempotent,
        )

        if args.events.endswith((".json", ".jsonl")):
            batch = engine.spark.read.json(args.events)
            batch = batch.withColumn(args.ts_col, batch[args.ts_col].cast("timestamp"))
        else:
            batch = engine.spark.read.parquet(args.events)
        kw = dict(
            ts_col=args.ts_col,
            keys=tuple(k for k in args.keys.split(",") if k),
            value_col=args.value_col,
        )
        if args.batch_id is not None:
            merge_daily_rollup_idempotent(
                engine.spark, args.rollup, batch, args.batch_id, **kw
            )
        else:
            merge_daily_rollup(engine.spark, args.rollup, batch, **kw)
        n = engine.spark.read.parquet(args.rollup).count()
        print(f"SUCCESS: Rollup merged | Rows: {n}")
        return 0

    if args.cmd == "rollup-compact":
        from etl_edi_data_scrapper_spark.operators.rollup import compact_rollup

        before, after = compact_rollup(
            engine.spark, args.rollup, keys=tuple(k for k in args.keys.split(",") if k)
        )
        print(f"SUCCESS: Rollup compacted | Rows: {before} -> {after}")
        return 0

    if args.cmd == "dedup-embeddings":
        from pyspark.sql import functions as F

        from etl_edi_data_scrapper_spark import sinks as sinkmod
        from etl_edi_data_scrapper_spark.functions.clustering import (
            semantic_dedup_sharded_multipass,
        )

        emb = engine.spark.read.parquet(args.embeddings)
        verdicts = semantic_dedup_sharded_multipass(
            emb,
            vec_col=args.vec_col,
            id_col=args.id_col,
            n_passes=args.n_passes,
            rows_per_shard=args.rows_per_shard,
            k_per_shard=args.k_per_shard,
            threshold=args.threshold,
            bridge_tables=args.bridge_tables,
            bridge_planes=args.bridge_planes,
            target_missed_frac=args.target_missed_frac,
            family_size_hint=args.family_size,
            max_rows_per_shard=args.max_rows_per_shard,
        )
        sinkmod.write_parquet(verdicts, args.output, mode="overwrite")
        written = engine.spark.read.parquet(args.output)
        by_pass = {
            r["pass_dropped"]: r["n"]
            for r in written.groupBy("pass_dropped")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n = sum(by_pass.values())
        kept = by_pass.pop(None, 0)
        if -1 in by_pass:
            print(f"STAGE: bridge drops: {by_pass.pop(-1)}")
        for p_id in sorted(by_pass):
            print(f"STAGE: pass {p_id} drops: {by_pass[p_id]}")
        print(
            f"SUCCESS: Embeddings deduplicated | Vectors: {n} | "
            f"Kept: {kept} | Dropped: {n - kept}"
        )
        return 0

    if args.cmd == "ann-index":
        from etl_edi_data_scrapper_spark.functions.similarity import (
            ivf_index,
            ivfpq_residual_index,
            pq_codebooks,
            pq_encode,
            save_ivfpq_index,
        )

        emb = engine.spark.read.parquet(args.embeddings)
        if args.n_centroids == "auto":
            # FAISS practice: IVF cell counts between 4*sqrt(N) and
            # 16*sqrt(N); 8*sqrt(N) is the midpoint rule. The 39-points-
            # per-centroid floor is faiss's own clustering warning bound
            # (fewer and the k-means cells are undertrained).
            n_vec = emb.count()
            n_centroids = max(1, min(
                int(8 * n_vec ** 0.5) or 1, n_vec // 39 or 1, 65536,
            ))
            print(
                f"STAGE: n_centroids auto: {n_centroids} "
                f"(N={n_vec}, rule=min(8*sqrt(N), N/39, 65536))"
            )
        else:
            n_centroids = int(args.n_centroids)
        rotation = None
        opq_info = None
        if args.opq != "off":
            from etl_edi_data_scrapper_spark.functions.similarity import (
                apply_rotation,
                opq_train_auto,
            )

            dec = opq_train_auto(
                emb, m_sub=args.m_sub, n_codes=args.n_codes, dim=args.dim,
                c_id=args.id_col, c_vec=args.vec_col,
            )
            use = dec["use_rotation"] if args.opq == "auto" else True
            opq_info = {
                "mode": args.opq,
                "chosen": "rotated" if use else "raw",
                "recall_raw": dec["recall_raw"],
                "recall_rotated": dec["recall_rotated"],
                "mse_raw": dec["mse_raw"],
                "mse_rotated": dec["mse_rotated"],
            }
            print(
                f"STAGE: opq {args.opq}: held-out recall@10 raw "
                f"{dec['recall_raw']:.3f} vs rotated "
                f"{dec['recall_rotated']:.3f} (MSE {dec['mse_raw']:.6g} vs "
                f"{dec['mse_rotated']:.6g}) -> {opq_info['chosen']}"
            )
            if use:
                rotation = dec["rotation"]
                # both quantizers retrain distributed below on the rotated
                # corpus (fit_fraction-able); opq_train_auto's sample
                # codebooks only served the rotation + the MSE decision
                emb = apply_rotation(emb, rotation, vec_col=args.vec_col)
        if args.no_residual:
            centroids, assigned = ivf_index(
                emb, n_centroids=n_centroids,
                c_id=args.id_col, c_vec=args.vec_col,
                train=args.train, fit_fraction=args.fit_fraction,
            )
            cbs = pq_codebooks(
                emb, m_sub=args.m_sub, n_codes=args.n_codes, dim=args.dim,
                c_id=args.id_col, c_vec=args.vec_col, train=args.train,
                fit_fraction=args.fit_fraction,
            )
            enc = pq_encode(assigned, cbs, c_vec=args.vec_col).select(
                args.id_col, "codes", "centroid_id"
            )
        else:
            # --train governs BOTH quantizers: without coarse_train the
            # coarse stage silently stayed 'sample' even under --train
            # kmeans, shipping untrained routing on the default path
            centroids, enc, cbs = ivfpq_residual_index(
                emb, n_centroids=n_centroids, m_sub=args.m_sub,
                n_codes=args.n_codes, dim=args.dim,
                c_id=args.id_col, c_vec=args.vec_col, train=args.train,
                coarse_train=args.train, fit_fraction=args.fit_fraction,
            )
        meta = {
            "residual": not args.no_residual,
            "id_col": args.id_col,
            "dim": args.dim,
            "n_centroids": n_centroids,
            "n_centroids_mode": args.n_centroids,
            "m_sub": args.m_sub,
            "n_codes": args.n_codes,
            "train": args.train,
        }
        if opq_info is not None:
            meta["opq"] = opq_info
        if rotation is not None:
            meta["opq_rotation"] = rotation
        # train-time quantization-error baseline (r13 verdict #5), recorded
        # in _meta.json, which store-info prints
        from etl_edi_data_scrapper_spark.functions.similarity import (
            index_quant_mse,
        )

        train_mse = index_quant_mse(
            emb, centroids, enc, cbs, residual=not args.no_residual,
            c_id=args.id_col, c_vec=args.vec_col,
        )
        meta["quant_mse"] = {"train": train_mse, "sample_rows": 65536}
        save_ivfpq_index(
            centroids, enc, cbs, args.output, c_id=args.id_col, meta=meta
        )
        n = engine.spark.read.parquet(f"{args.output}/codes").count()
        print(
            f"SUCCESS: ANN index built | Vectors: {n} | Cells: "
            f"{n_centroids} | Codes: {args.m_sub}x{args.n_codes}"
            f"{' (residual)' if not args.no_residual else ''}"
        )
        return 0

    if args.cmd == "ann-compact":
        from etl_edi_data_scrapper_spark.functions.similarity import (
            compact_ivfpq_codes,
        )

        fb, fa = compact_ivfpq_codes(engine.spark, args.index)
        print(
            f"SUCCESS: ANN index compacted | Files: {fb} -> {fa}"
        )
        return 0

    if args.cmd == "store-info":
        from etl_edi_data_scrapper_spark.store_info import describe_store

        try:
            info = describe_store(engine.spark, args.store)
        except (ValueError, IOError) as e:
            print(f"ERROR: {e}")
            return 1
        print(json.dumps(info, indent=1, sort_keys=True, default=str))
        return 0

    if args.cmd == "ann-query":
        from pyspark.sql import functions as F

        from etl_edi_data_scrapper_spark import sinks as sinkmod
        from etl_edi_data_scrapper_spark.functions.similarity import (
            ivfpq_topk,
            load_ivfpq_index,
            load_ivfpq_meta,
        )

        meta = load_ivfpq_meta(engine.spark, args.index)
        centroids, enc, cbs = load_ivfpq_index(engine.spark, args.index)
        queries = engine.spark.read.parquet(args.queries).select(
            F.col(args.id_col).alias("q_id"),
            F.col(args.vec_col).alias("q_vec"),
        )
        cid = meta.get("id_col", "vec_id")
        # an OPQ index (ann-index --opq) scores ADC in rotated space;
        # the rotation rides _meta.json so the caller needs no flag
        rotation = meta.get("opq_rotation")
        q_short = None
        if rotation:
            from etl_edi_data_scrapper_spark.functions.similarity import (
                apply_rotation,
            )

            q_short = apply_rotation(queries, rotation, vec_col="q_vec")
        residual = meta.get("residual")
        if args.residual != "auto":
            residual = args.residual == "yes"
        if residual is None:
            # guessing raw against residual codes ranks silently wrong;
            # refuse at the CLI instead of shipping bad neighbors
            p.error(
                f"index {args.index} has no 'residual' flag in _meta.json; "
                "pass --residual yes|no (or rebuild with ann-index, which "
                "always writes it)"
            )
        if args.nprobe == "auto":
            from etl_edi_data_scrapper_spark.functions.similarity import (
                tune_nprobe,
            )

            # tune in the space ADC actually scores (rotated for an OPQ
            # index), at the depth ADC actually shortlists (k x k_factor
            # under rerank — the routing must deliver the SHORTLIST, not
            # just the final k)
            tune_k = (
                args.k * args.k_factor if args.rerank_corpus else args.k
            )
            dec = tune_nprobe(
                q_short if q_short is not None else queries,
                centroids, enc, cbs,
                k=tune_k, target_overlap=args.target_overlap,
                max_queries=args.tune_queries, c_id=cid,
                residual=residual,
            )
            nprobe = dec["nprobe"]
            print(
                f"STAGE: nprobe auto: {nprobe} "
                f"(target overlap {dec['target_overlap']} "
                f"{'reached' if dec['target_reached'] else 'NOT reached - full probe'}, "
                f"{dec['n_queries']} sample queries, ladder "
                + json.dumps(dec["ladder"], sort_keys=True) + ")"
            )
        else:
            nprobe = int(args.nprobe)
        if args.rerank_corpus:
            from etl_edi_data_scrapper_spark.functions.similarity import (
                ivfpq_topk_rerank,
            )

            rerank_id = args.rerank_id_col or cid
            rerank_vec = args.rerank_vec_col or args.vec_col
            corpus = engine.spark.read.parquet(args.rerank_corpus)
            missing = {rerank_id, rerank_vec} - set(corpus.columns)
            if missing:
                p.error(
                    f"rerank corpus {args.rerank_corpus} lacks column(s) "
                    f"{sorted(missing)} (has {corpus.columns}); set "
                    "--rerank-id-col/--rerank-vec-col"
                )
            if rerank_id != cid:
                corpus = corpus.withColumnRenamed(rerank_id, cid)
            out = ivfpq_topk_rerank(
                queries, centroids, enc, cbs, corpus,
                k=args.k, k_factor=args.k_factor, nprobe=nprobe,
                c_id=cid, c_vec=rerank_vec, residual=residual,
                shortlist_queries=q_short,
            )
        else:
            out = ivfpq_topk(
                q_short if q_short is not None else queries,
                centroids, enc, cbs,
                k=args.k, nprobe=nprobe, c_id=cid, residual=residual,
            )
        sinkmod.write_parquet(out, args.output, mode="overwrite")
        n = engine.spark.read.parquet(args.output).count()
        tier = " | rerank: exact" if args.rerank_corpus else ""
        print(
            f"SUCCESS: ANN query | Results: {n} | k: {args.k} | "
            f"nprobe: {nprobe}{tier}"
        )
        return 0

    if args.cmd == "fit-langid":
        from pyspark.sql import functions as F

        from etl_edi_data_scrapper_spark.functions.lang_classifier import (
            fit_lang_classifier,
            save_lang_model,
        )

        docs = engine.spark.read.parquet(args.docs)
        if args.langs is not None:
            langs = [s.strip() for s in args.langs.split(",") if s.strip()]
        else:
            langs = sorted(
                r[0]
                for r in docs.select(args.label_col).distinct().collect()
                if r[0] is not None
            )
        if not langs:
            p.error(f"no class labels found in --label-col {args.label_col}")
        _, (w, b) = fit_lang_classifier(
            docs, langs=langs, id_col=args.id_col, text_col=args.text_col,
            label_col=args.label_col, n_buckets=args.n_buckets,
            n_epochs=args.epochs, return_model=True,
        )
        save_lang_model(engine.spark, args.output, w, b,
                        n_buckets=args.n_buckets)
        print(
            f"SUCCESS: Language ID trained | Classes: {len(langs)} "
            f"({','.join(langs)}) | Output: {args.output}"
        )
        return 0

    if args.cmd == "langid":
        from etl_edi_data_scrapper_spark import sinks as sinkmod
        from etl_edi_data_scrapper_spark.functions.lang_classifier import (
            classify_lang_corpus,
            load_lang_model,
        )

        docs = engine.spark.read.parquet(args.docs)
        w, b, nb, n = load_lang_model(engine.spark, args.model)
        out = classify_lang_corpus(
            docs, w, b, nb, n=n, id_col=args.id_col, text_col=args.text_col
        )
        sinkmod.write_parquet(out, args.output, mode="overwrite")
        nrows = engine.spark.read.parquet(args.output).count()
        print(
            f"SUCCESS: Language ID scored | Docs: {nrows} | "
            f"Classes: {len(w)}"
        )
        return 0

    if args.cmd == "fit-lm":
        docs = engine.spark.read.parquet(args.docs)
        if args.bigram:
            from etl_edi_data_scrapper_spark.functions.text import (
                fit_bigram_lm,
                save_bigram_lm,
            )

            save_bigram_lm(
                fit_bigram_lm(docs, text_col=args.text_col), args.output
            )
            n = engine.spark.read.parquet(f"{args.output}/uni").count()
            nb = engine.spark.read.parquet(f"{args.output}/big").count()
            print(
                f"SUCCESS: Bigram LM fit | Terms: {n} | Bigrams: {nb} | "
                f"Output: {args.output}"
            )
            return 0
        from etl_edi_data_scrapper_spark.functions.text import (
            fit_unigram_lm,
            save_unigram_lm,
        )

        save_unigram_lm(fit_unigram_lm(docs, text_col=args.text_col),
                        args.output)
        n = engine.spark.read.parquet(args.output).count()
        print(f"SUCCESS: Unigram LM fit | Terms: {n} | Output: {args.output}")
        return 0

    if args.cmd == "learn-bpe":
        from etl_edi_data_scrapper_spark.functions.bpe import (
            learn_bpe_merges,
            save_merges,
        )

        docs = engine.spark.read.parquet(args.docs)
        merges = learn_bpe_merges(
            docs, text_col=args.text_col, n_merges=args.n_merges,
            min_count=args.min_count, max_words=args.max_words,
        )
        save_merges(merges, args.output, spark=engine.spark)
        print(
            f"SUCCESS: BPE merges learned | Rules: {len(merges)} | "
            f"Output: {args.output}"
        )
        return 0

    if args.cmd == "curate":
        from etl_edi_data_scrapper_spark.functions.text import (
            load_bigram_lm,
            load_unigram_lm,
        )
        from pyspark.sql import functions as F

        from etl_edi_data_scrapper_spark import sinks as sinkmod
        from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

        # knowable from args alone: fail BEFORE the (potentially hours-
        # long) pipeline runs, not after the verdicts are written
        if args.domain_report is not None and "urls" not in args.stages.split(","):
            p.error("--domain-report needs the urls stage (--stages urls)")
        if args.url_gate and "urls" not in args.stages.split(","):
            p.error("--url-gate needs the urls stage (--stages urls)")
        if args.url_idna and "urls" not in args.stages.split(","):
            p.error("--url-idna needs the urls stage (--stages urls)")
        if "urls" in args.stages.split(",") and args.url_col is None:
            p.error("the urls stage needs --url-col")
        docs = engine.spark.read.parquet(args.docs)
        clf_ref = None
        if args.clf_reference_col is not None:
            if args.clf_reference_value is None:
                p.error("--clf-reference-value required with --clf-reference-col")
            clf_ref = F.col(args.clf_reference_col) == args.clf_reference_value
        if args.clf_model is not None and args.clf_reference_col is not None:
            p.error("--clf-model and --clf-reference-col are mutually exclusive")
        if args.clf_model_out is not None and args.clf_reference_col is None:
            p.error("--clf-model-out requires --clf-reference-col")
        clf_model = None
        if args.clf_model is not None:
            from etl_edi_data_scrapper_spark.functions.quality_classifier import (
                load_model,
            )

            clf_model = load_model(engine.spark, args.clf_model)
        bench = (
            engine.spark.read.parquet(args.benchmark)
            if args.benchmark is not None
            else None
        )
        url_blocklist = ()
        if args.domain_blocklist is not None:
            with open(args.domain_blocklist) as fh:
                url_blocklist = tuple(
                    d
                    for d in (line.strip().lower() for line in fh)
                    if d and not d.startswith("#")
                )
        badwords = None
        if args.blocklist is not None:
            with open(args.blocklist) as fh:
                badwords = tuple(
                    w
                    for w in (line.strip().lower() for line in fh)
                    if w and not w.startswith("#")
                )
        verdicts = curate_corpus(
            engine.spark,
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            stages=tuple(s for s in args.stages.split(",") if s),
            quality_min=args.quality_min,
            langs=tuple(s for s in args.langs.split(",") if s),
            xent_band=(args.xent_lo, args.xent_hi),
            bxent_band=(args.bxent_lo, args.bxent_hi),
            minhash_threshold=args.minhash_threshold,
            spans_min_len=args.spans_min_len,
            url_col=args.url_col,
            url_idna=args.url_idna,
            url_blocklist=url_blocklist,
            psl=args.psl,
            url_gate=args.url_gate,
            clf_reference=clf_ref,
            clf_target_keep=args.clf_target_keep,
            clf_model=clf_model,
            clf_model_fingerprint=args.clf_model,
            clf_model_out=args.clf_model_out,
            xent_lm=(
                None if args.xent_lm is None
                else load_unigram_lm(engine.spark, args.xent_lm)
            ),
            xent_lm_fingerprint=args.xent_lm,
            bxent_lm=(
                None if args.bxent_lm is None
                else load_bigram_lm(engine.spark, args.bxent_lm)
            ),
            bxent_lm_fingerprint=args.bxent_lm,
            minhash_bands=(
                "auto" if args.minhash_bands == "auto"
                else int(args.minhash_bands)
            ),
            badwords=badwords,
            benchmark=bench,
            benchmark_text_col=args.benchmark_text_col,
            decon_width=args.decon_width,
            stage_dir=args.stage_dir,
        )
        sinkmod.write_parquet(verdicts, args.output, mode="overwrite")
        written = engine.spark.read.parquet(args.output)
        if args.domain_report is not None:
            from etl_edi_data_scrapper_spark.functions.urls import domain_report

            rep = domain_report(
                written,
                quality_col="quality" if "quality" in written.columns else None,
            )
            sinkmod.write_parquet(rep, args.domain_report, mode="overwrite")
            n_dom = engine.spark.read.parquet(args.domain_report)
            flagged = n_dom.filter(F.col("dom_flagged")).count()
            print(
                f"STAGE: domain report: {n_dom.count()} domains, "
                f"{flagged} flagged"
            )
        keep_cols = [c for c in written.columns if c.endswith("_keep")] + [
            c
            for c in written.columns
            if c.startswith("is_") or c.endswith("_contaminated")
        ]
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.sum(F.when(~F.col(c) if c.endswith("_keep") else F.col(c), 1).otherwise(0))
            .alias(c)
            for c in keep_cols
        ]
        stats = written.agg(*aggs).collect()[0].asDict()
        n = stats.pop("__n")
        dropped = stats.pop("curate_keep")
        for c, v in stats.items():
            label = (
                c
                if c.startswith("is_") or c.endswith("_contaminated")
                else f"{c.removesuffix('_keep')} drops"
            )
            print(f"STAGE: {label}: {v}")
        print(f"SUCCESS: Corpus curated | Docs: {n} | Kept: {n - dropped} | Dropped: {dropped}")
        return 0

    if args.cmd == "serve":
        from etl_edi_data_scrapper_spark import sinks as sinkmod

        def sink(df, cfg):
            sinkmod.write_parquet(
                df, f"{args.output}/supplier_id={cfg.supplier_id}", mode="overwrite"
            )

        query = engine.consume(
            sink=sink, source_path=args.messages, checkpoint_dir=args.checkpoint
        )
        try:
            if args.timeout_s is not None:
                query.awaitTermination(args.timeout_s)
                query.stop()
            else:  # pragma: no cover - interactive loop
                query.awaitTermination()
        finally:
            if query.isActive:  # pragma: no cover
                query.stop()
        return 0

    return 2  # pragma: no cover


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
