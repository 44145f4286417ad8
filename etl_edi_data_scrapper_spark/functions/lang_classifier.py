"""Trained language identification — the fasttext-lid-shaped upgrade of
`text.lang_id`'s stopword-dictionary argmax (r13 verdict #4: the
dictionary CASE was the weakest stage vs real pipelines; CCNet ships
fasttext lid.176, a linear classifier over character n-gram features).

Public method, Spark-first shape:

  * features are hashed CHARACTER TRIGRAM bucket counts (char n-grams
    are the standard lid feature family — they see morphology and
    diacritics where a token dictionary sees only exact stopwords), as
    sparse (id, bucket, tf) rows (`char_trigram_bucket_counts`);
  * the model is a MULTICLASS integer perceptron (Crammer/Singer-style
    mistake-driven update: predict by argmax, on a mistake add the
    feature vector to the true class and subtract it from the predicted
    class), fit driver-resident in numpy (`np_multiclass_fit`) on a
    bounded, deterministic labeled sample;
  * scoring is ONE hash aggregate over the corpus grams
    (`_score_corpus_grouped`): each gram adds its bucket's per-class
    weight, and the argmax breaks ties by (score desc, class asc) —
    bit-identical to the SQL oracle's row_number.

Everything is INTEGER arithmetic (counts are longs, updates add/subtract
counts) — bit-exact across engines and partitionings, so the epochs
unroll into plain SQL for the DuckDB oracle exactly like
`quality_classifier`'s binary perceptron (`suite._clf_ctes`), with a
class dimension added (`suite._lang_clf_ctes`). At 100 TB: the fit
featurizes only its bounded sample, scoring is one explode + one hash
aggregate over the corpus, and the model state at the driver is
K·(B+1) ints. A real deployment fits on a labeled SAMPLE (labels come
from annotation or an upstream model) and scores the corpus — the fit
input is whatever labeled frame the caller passes, nothing here scans
more than it is given.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.importance import hashed_bucket


def char_trigram_bucket_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_buckets: int = 64,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, *extra], bucket, tf) — hashed char ``n``-gram counts over
    the RAW text (spaces included: token boundaries are themselves a
    language signal), sparse: zero-count buckets are absent (a dense
    per-doc array measured ~2.5 s of the featurize wall at sf0.1). Texts
    shorter than ``n`` contribute themselves as their single (short)
    gram, and NULL text counts the '' gram — every doc yields at least
    one row, so no doc is lost downstream."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)))
    grams = docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.explode(F.transform(idx, lambda i: t.substr(i, F.lit(n)))).alias(
            "gram"
        ),
    )
    return (
        grams.select(
            id_col,
            *extra,
            hashed_bucket(F.col("gram"), n_buckets).alias("bucket"),
        )
        .groupBy(id_col, *extra, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _score_corpus_grouped(
    docs: DataFrame,
    w: dict[str, list[int]],
    b: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    pred_col: str = "lang_clf_pred",
    score_col: str = "lang_clf_score",
) -> DataFrame:
    """Score RAW documents in ONE hash aggregate: each gram row
    contributes w_cls[bucket] per class (Σ_grams w[bucket(g)] ==
    Σ_buckets tf·w[bucket] — the same integer sum the dense dot product
    computes), summed per doc with the per-class weight vector inlined
    as an element_at over a literal array (codegen, no join, no K-way
    row blowup), bias added as a literal, argmax by array_sort of
    (−score, class) structs — (score desc, class asc) ties, the SQL
    oracle's row_number order. Replaced [posexplode → broadcast join ×K
    → two hash aggregates] with [explode → one hash aggregate]: 5.9 s →
    0.8 s at sf0.1 for the full featurize+score pipeline."""
    langs = sorted(w)
    n_buckets = len(w[langs[0]]) if langs else 0
    t = F.coalesce(F.col(text_col), F.lit(""))
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)))
    bk = docs.select(
        F.col(id_col),
        F.explode(F.transform(idx, lambda i: t.substr(i, F.lit(n)))).alias(
            "gram"
        ),
    ).select(id_col, hashed_bucket(F.col("gram"), n_buckets).alias("bucket"))
    # one parsed expression per class: the per-element F.lit loop cost a
    # py4j round trip per weight (K×64 per plan build) — the parsed tree
    # is identical (same element_at over a long-array literal)
    aggs = [
        F.expr(
            "sum(element_at(array("
            + ",".join(f"{int(v)}L" for v in w[lg])
            + "), CAST(bucket + 1 AS INT)))"
        ).alias(f"__s_{i}")
        for i, lg in enumerate(langs)
    ]
    sc = bk.groupBy(id_col).agg(*aggs)
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-(F.col(f"__s_{i}") + F.lit(int(b[lg])))).alias("ns"),
                    F.lit(lg).alias("cls"),
                )
                for i, lg in enumerate(langs)
            ]
        )
    )[0]
    return sc.select(
        F.col(id_col),
        ranked["cls"].alias(pred_col),
        (-ranked["ns"]).cast("long").alias(score_col),
    )


def np_multiclass_fit(
    x, y_idx, langs: list[str], n_epochs: int = 2
) -> tuple[dict[str, list[int]], dict[str, int]]:
    """The batch multiclass perceptron, run driver-resident on an int64
    numpy matrix (``x`` (n, B+1) WITH the constant-1 bias column appended;
    ``y_idx`` indexes into lang-asc ``langs``). Integer matmul and
    scatter-adds are exact, np.argmax takes the FIRST maximum — with
    columns in lang-asc order that is precisely the (score desc, class
    asc) tiebreak — so the returned model is bit-identical to the SQL
    unroll (pinned by test). This is the
    `kmeans_fit`/`opq_train` bounded-driver-model discipline: the fit
    input is a capped sample, never the corpus."""
    import numpy as np

    x = np.asarray(x, dtype=np.int64)
    y_idx = np.asarray(y_idx, dtype=np.int64)
    k = len(langs)
    W = np.zeros((k, x.shape[1]), dtype=np.int64)
    for _ in range(int(n_epochs)):
        s = x @ W.T
        pred = s.argmax(axis=1)
        mask = pred != y_idx
        if mask.any():
            g = np.zeros_like(W)
            np.add.at(g, y_idx[mask], x[mask])
            np.subtract.at(g, pred[mask], x[mask])
            W += g
    return (
        {lg: [int(v) for v in W[i, :-1]] for i, lg in enumerate(langs)},
        {lg: int(W[i, -1]) for i, lg in enumerate(langs)},
    )


def fit_lang_classifier(
    docs: DataFrame,
    langs: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    n_buckets: int = 64,
    n_epochs: int = 2,
    max_fit_rows: int = 65536,
    return_model: bool = False,
) -> DataFrame:
    """Pipeline form: fit DRIVER-RESIDENT (`np_multiclass_fit`) on the
    ``max_fit_rows`` labeled docs whose md5(id) sorts lowest — the
    deterministic bounded training sample, `opq_train`'s discipline;
    fasttext-lid likewise trains on a fixed labeled set, never the
    corpus — then score EVERY document distributed. Returns
    (id, lang_clf_pred, lang_clf_score). The oracle unroll
    (`suite._lang_clf_ctes`) replicates the cap with a
    row_number-over-md5 CTE, so parity holds at ANY corpus size, not
    just while the cap doesn't bind. ``return_model=True`` returns
    ``(scored, (w, b))`` so the trained model can be persisted
    (`save_lang_model`) and reused without refitting.

    r14 optimization (result-identical, pinned by test): the sample ids
    are picked by a TakeOrdered over the RAW labeled docs, and only
    those docs are featurized for the fit — as sparse (id, bucket, tf)
    triplets densified driver-side in numpy (the batch perceptron is
    row-order-independent, so densification order is immaterial) —
    while scoring runs `_score_corpus_grouped`'s single hash aggregate
    over the corpus grams. This drops the dense-array featurization,
    the localCheckpoint materialization, and the K-way scoring join
    from the hot path (text_quality's lang legs: ~3.5 s → ~1.5 s at
    sf0.1), and at scale featurizes only the bounded sample for the
    fit instead of the whole corpus."""
    import numpy as np

    langs = sorted(langs)
    sample_ids = (
        docs.filter(F.col(label_col).isin(langs))
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(max_fit_rows)
        .select(F.col(id_col), F.col(label_col))
    )
    # Arrow transfer + vectorized densify (r14): the row-at-a-time
    # .collect() of the (id, label, bucket, tf) triplets was ~2.3 s of
    # every plan build at sf0.1 (≈300k pickled rows); toPandas rides the
    # session's Arrow path and the scatter-assign densification is one
    # numpy op. Row mapping is pandas.factorize's first-occurrence order
    # — the same assignment the old dict loop made — and the batch
    # perceptron is row-order independent regardless, so the model is
    # bit-identical (pinned by the pure-Python reference test).
    trip = char_trigram_bucket_counts(
        docs.select(F.col(id_col), F.col(text_col)).join(
            F.broadcast(sample_ids), on=id_col
        ),
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        extra=(label_col,),
    ).toPandas()
    if len(trip):
        import pandas as pd

        lang_pos = {lg: i for i, lg in enumerate(langs)}
        codes, _uniques = pd.factorize(trip[id_col])
        n_docs = len(_uniques)
        # first occurrence of each code 0..n_docs-1 carries the doc's label
        _, first_row = np.unique(codes, return_index=True)
        y_idx = np.asarray(
            [lang_pos[v] for v in trip[label_col].to_numpy()[first_row]],
            dtype=np.int64,
        )
        x = np.zeros((n_docs, n_buckets + 1), dtype=np.int64)
        x[:, n_buckets] = 1
        x[codes, trip["bucket"].to_numpy()] = trip["tf"].to_numpy()
        w, b = np_multiclass_fit(x, y_idx, langs, n_epochs=n_epochs)
    else:
        w = {lg: [0] * n_buckets for lg in langs}
        b = {lg: 0 for lg in langs}
    scored = _score_corpus_grouped(
        docs, w, b, id_col=id_col, text_col=text_col
    )
    return (scored, (w, b)) if return_model else scored


def save_lang_model(
    spark, path: str, w: dict, b: dict, n_buckets: int, n: int = 3
) -> None:
    """Persist a trained multiclass language model as a JSON sidecar
    (r14, the `quality_classifier.save_model` convention): all-integer
    weights make the round trip bit-exact. Records the featurization
    geometry (trigram ``n``, ``n_buckets``) so scoring cannot silently
    run under a different hash space than training."""
    import json

    from etl_edi_data_scrapper_spark.fsutil import write_text_atomic

    write_text_atomic(spark, path, json.dumps({
        "kind": "multiclass_integer_perceptron_v1",
        "w": {c: [int(v) for v in ws] for c, ws in w.items()},
        "b": {c: int(v) for c, v in b.items()},
        "n_buckets": int(n_buckets),
        "n": int(n),
    }, sort_keys=True))


def load_lang_model(spark, path: str) -> tuple[dict, dict, int, int]:
    """(w, b, n_buckets, n) from `save_lang_model`'s sidecar; loud
    refusal on absence or a different model kind."""
    import json

    from etl_edi_data_scrapper_spark.fsutil import read_text

    raw = read_text(spark, path)
    if raw is None:
        raise FileNotFoundError(f"no language model at {path}")
    d = json.loads(raw)
    if d.get("kind") != "multiclass_integer_perceptron_v1":
        raise ValueError(
            f"{path}: expected kind 'multiclass_integer_perceptron_v1', "
            f"got {d.get('kind')!r}"
        )
    w = {c: [int(v) for v in ws] for c, ws in d["w"].items()}
    b = {c: int(v) for c, v in d["b"].items()}
    return w, b, int(d["n_buckets"]), int(d["n"])


def classify_lang_corpus(
    docs: DataFrame,
    w: dict,
    b: dict,
    n_buckets: int,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score RAW documents with an already-trained (possibly loaded)
    language model: featurize under the model's recorded geometry +
    classify, zero training jobs — via `_score_corpus_grouped`'s single
    hash aggregate. Returns
    (id, lang_clf_pred, lang_clf_score). ``n_buckets`` is taken from the
    model's weight vectors; the argument is kept for signature
    compatibility and cross-checked."""
    langs = sorted(w)
    if langs and len(w[langs[0]]) != n_buckets:
        raise ValueError(
            f"model has {len(w[langs[0]])} buckets, caller says {n_buckets}"
        )
    return _score_corpus_grouped(
        docs, w, b, id_col=id_col, text_col=text_col, n=n
    )
