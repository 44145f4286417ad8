"""Tests for the training-data pipeline operators: text analysis, dedup
(exact/MinHash/SimHash/Jaccard/embedding), similarity search, multimodal
plumbing."""

import hashlib
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_edi_data_scrapper_spark.functions import dedup, multimodal, similarity, text


def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different words here nothing shared at all"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = dedup.exact_dedup(docs(spark)).collect()
    groups = {r.canonical_id: r.n_dups for r in out}
    assert groups[0] == 2          # docs 0 and 3 collapse
    assert groups[1] == 1 and groups[2] == 1


def test_minhash_finds_near_dup_pair(spark):
    d = docs(spark)
    cand = dedup.minhash_candidate_pairs(d, n_hashes=12, bands=6)  # 2-row bands
    verified = dedup.jaccard_pairs(d, cand, threshold=0.5).collect()
    pairs = {(r.a, r.b): r.jaccard for r in verified}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0


def test_jaccard_values(spark):
    d = docs(spark)
    pairs = spark.createDataFrame([(0, 2)], "a long, b long")
    out = dedup.jaccard_pairs(d, pairs).collect()
    assert out[0].jaccard == 0.0  # disjoint shingles


def _md5_sign_bits(tok: str) -> list[int]:
    """±1 per SimHash bit of one token (`dedup.simhash_bit_sums`' rule)."""
    h = hashlib.md5(tok.encode()).hexdigest()
    return [1 if int(h[i // 4], 16) >> (3 - i % 4) & 1 else -1 for i in range(64)]


def _texts_differing_only_in_bit(k: int, seed: int = 0) -> tuple[str, str]:
    """Two texts whose 64-bit SimHash signatures differ ONLY in bit ``k``:
    the second is the first plus one token whose ±1 moves bit k's sum
    across the sign boundary (0 ↔ 1) and no other bit's."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    signs = {w: _md5_sign_bits(w) for w in vocab}
    while True:
        base = [rng.choice(vocab) for _ in range(60)]
        sums = [sum(col) for col in zip(*(signs[w] for w in base))]
        for extra in vocab:
            flipped = [
                j
                for j, (s, c) in enumerate(zip(sums, signs[extra]))
                if (s, c) in ((0, 1), (1, -1))
            ]
            if flipped == [k]:
                text = " ".join(base)
                return text, f"{text} {extra}"


def _multi_pairs(spark, texts, max_hamming=3):
    """{sig_bits: {(a, b): hamming}} from `simhash_pairs_multi`."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out: dict[int, dict] = {48: {}, 64: {}}
    for p in dedup.simhash_pairs_multi(df, max_hamming=max_hamming).collect():
        assert (p.a, p.b) not in out[p.sig_bits]  # each pair reported once
        out[p.sig_bits][(p.a, p.b)] = p.hamming
    return out


def test_simhash_near_pairs(spark):
    sig = dedup.simhash(docs(spark), bits=32)
    rows = {r.doc_id: r.simhash for r in sig.collect()}
    assert rows[0] == rows[3]  # identical text → identical signature
    # no duplicates even though a pair collides in several piece blocks
    # (checked inside _multi_pairs), on both legs
    pairs = _multi_pairs(spark, [t for _, t in sorted(docs(spark).collect())])
    assert pairs[48][(0, 3)] == 0 and pairs[64][(0, 3)] == 0


def test_simhash_high_bit_pair_found(spark):
    # the single-prefix block scheme missed pairs whose differing bits are
    # HIGH bits (they landed in different blocks); piece blocking must find
    # them: texts whose signatures differ ONLY in bit 47, the top bit of the
    # 48-bit leg (and inside the 64-bit leg's high half)
    pairs = _multi_pairs(spark, _texts_differing_only_in_bit(47))
    assert pairs == {48: {(0, 1): 1}, 64: {(0, 1): 1}}


def test_simhash_wide_bits_fail_loudly(spark):
    # >52-bit single-long signatures would silently corrupt low pieces under
    # the exact-double floor/division arithmetic — must raise, not degrade
    with pytest.raises(ValueError, match="two 32-bit halves"):
        dedup.simhash(docs(spark), bits=64)
    with pytest.raises(ValueError, match="max_hamming <= 3"):
        dedup.simhash_pairs_multi(docs(spark), max_hamming=4)


def test_simhash64_halves_and_pairs(spark):
    sums = dedup.simhash_bit_sums(docs(spark), bits=64)
    sig = dedup.simhash_combined_from_sums(sums, single_bits=48).collect()
    rows = {r.doc_id: (r.simhash, r.simhash_hi, r.simhash_lo) for r in sig}
    assert rows[0] == rows[3]  # identical text → identical signature
    for single, hi, lo in rows.values():
        assert 0 <= hi < 2**32 and 0 <= lo < 2**32
        # the 48-bit leg is the low 48 bits of the 64-bit signature
        assert single == ((hi << 32) | lo) % 2**48
    pairs = _multi_pairs(spark, [t for _, t in sorted(docs(spark).collect())])
    assert pairs[64][(0, 3)] == 0


def test_simhash64_high_half_pair_found(spark):
    # a pair differing only in bit 63 (top of the high half) must be caught
    # by one of the untouched pieces — the regression the hi/lo split exists
    # to keep exact; the 48-bit leg does not see bit 63 at all
    pairs = _multi_pairs(spark, _texts_differing_only_in_bit(63))
    assert pairs == {48: {(0, 1): 0}, 64: {(0, 1): 1}}


def test_cosine_topk_self_is_rank1(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = similarity.cosine_topk(queries, emb, k=3).collect()
    top1 = {r.q_id: r for r in out if r.rank == 1}
    for q_id, r in top1.items():
        assert r.vec_id == q_id                      # self-match first
        assert r.cosine == pytest.approx(1.0, abs=1e-9)


def test_lsh_topk_subset_of_bucket_and_self_found(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = similarity.lsh_topk(queries, emb, k=3, n_planes=4).collect()
    # self always lands in its own bucket → rank 1 survives LSH
    top1 = {r.q_id: r.vec_id for r in out if r.rank == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}


def test_lsh_multiprobe_superset_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    plain = {
        (r.q_id, r.vec_id)
        for r in similarity.lsh_topk(queries, emb, k=3, n_planes=4).collect()
    }
    probed_rows = similarity.lsh_topk(
        queries, emb, k=3, n_planes=4, multiprobe=True
    ).collect()
    probed = {(r.q_id, r.vec_id) for r in probed_rows}
    exact = {
        (r.q_id, r.vec_id)
        for r in similarity.cosine_topk(queries, emb, k=3).collect()
    }
    # probing adjacent buckets only ADDS candidates → recall never drops
    assert len(probed & exact) >= len(plain & exact)
    # each corpus vector lives in one bucket, so (q, c) pairs stay unique
    assert len(probed_rows) == len(probed)
    assert {r.q_id: r.vec_id for r in probed_rows if r.rank == 1} == {0: 0, 1: 1, 2: 2}


def test_lang_id_prefers_matching_dictionary(spark):
    d = spark.createDataFrame(
        [(1, "der hund und die katze ist nicht hier"),
         (2, "the cat and the dog is in the house"),
         (3, "xyzzy plugh")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang for r in d.select("doc_id", text.lang_id("text").alias("lang")).collect()}
    assert out[1] == "de" and out[2] == "en" and out[3] == "und"


def test_quality_score_bounds(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = d.select(text.quality_score("text").alias("q")).agg(
        F.min("q"), F.max("q")
    ).first()
    assert 0.0 <= stats[0] and stats[1] <= 1.0


# --- multimodal plumbing (decode kernel stubbed; Arrow path real) -----------

# the input shape the multimodal kernels read: opaque bytes + a typed meta struct
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


def media(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes", ("image/png", 64, 64, None)),
        (2, "audio", b"RIFF fake wav", ("audio/wav", None, None, 2_000)),
        (3, "video", b"\x00\x00ftyp fake mp4", ("video/mp4", 320, 240, 3_500)),
        (4, "image", None, ("image/png", 0, 0, None)),
    ]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_extract_features_fake_kernel(spark):
    out = multimodal.extract_features(media(spark), kernel=multimodal.fake_decode_kernel)
    rows = {r.media_id: r for r in out.collect()}
    assert rows[1].n_bytes == 15 and len(rows[1].feature) == 8
    assert all(0.0 <= v <= 1.0 for v in rows[1].feature)
    assert rows[4].sha256 is None and rows[4].n_bytes == 0
    # deterministic: same bytes → same features
    again = multimodal.extract_features(media(spark), kernel=multimodal.fake_decode_kernel)
    assert again.filter(F.col("media_id") == 1).first().feature == rows[1].feature


def test_real_kernel_raises_decoder_unavailable():
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed — the image path is live, see below")
    except ImportError:
        pass
    with pytest.raises(multimodal.DecoderUnavailable):
        multimodal.real_decode_kernel(b"bytes", "image")
    with pytest.raises(multimodal.DecoderUnavailable):
        multimodal.real_decode_kernel(b"bytes", "audio")


def test_real_kernel_decodes_images_when_pillow_present(spark):
    # runs wherever Pillow exists (real clusters); skipped in this container.
    # Proves the fake-kernel seam faithful: the REAL kernel flows through the
    # identical extract_features Arrow path with the same schema and dim.
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    def png(shade: int) -> bytes:
        buf = io.BytesIO()
        PIL_Image.new("L", (16, 16), color=shade).save(buf, format="PNG")
        return buf.getvalue()

    rows = [
        (1, "image", png(0), ("image/png", 16, 16, None)),
        (2, "image", png(255), ("image/png", 16, 16, None)),
        (3, "image", None, ("image/png", 0, 0, None)),
        (4, "image", b"not a real image blob", ("image/png", 0, 0, None)),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.extract_features(
            df, kernel=multimodal.real_decode_kernel
        ).collect()
    }
    assert len(out[1].feature) == 8 == len(out[2].feature)  # fake-kernel dim
    assert all(v == 0.0 for v in out[1].feature)  # black thumbnail
    assert all(v == 1.0 for v in out[2].feature)  # white thumbnail
    assert out[3].feature == [0.0] * 8  # null content parity with fake
    assert out[4].feature is None  # corrupt bytes → NULL row, stage survives
    # audio is still codec-gated even with Pillow present
    with pytest.raises(multimodal.DecoderUnavailable):
        multimodal.real_decode_kernel(b"RIFF", "audio")


def test_ivf_topk_finds_self_and_probes_buckets(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids, assigned = similarity.ivf_index(emb, n_centroids=8)
    assert assigned.count() == emb.count()            # every vector assigned
    assert centroids.count() == 8
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = similarity.ivf_topk(queries, centroids, assigned, k=3, nprobe=8)
    top1 = {r.q_id: r.vec_id for r in out.collect() if r.rank == 1}
    # nprobe == n_centroids → exhaustive → self must be rank 1
    assert top1 == {0: 0, 1: 1, 2: 2}
    # fewer probes → results are a subset of probed buckets, still k rows max
    approx = similarity.ivf_topk(queries, centroids, assigned, k=3, nprobe=2)
    per_q = {}
    for r in approx.collect():
        per_q.setdefault(r.q_id, []).append(r.vec_id)
    assert all(len(v) <= 3 for v in per_q.values())


def test_bpe_token_count_segments(spark):
    from etl_edi_data_scrapper_spark.functions import text as T

    rows = [
        (1, "hello world"),          # 2 letter-runs
        (2, "it's 42 degrees!"),     # it|'s| 42| degrees|!
        (3, "a,b"),                  # a|,|b
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        r.id: r.n
        for r in df.select("id", T.bpe_token_count(F.col("s")).alias("n")).collect()
    }
    assert got == {1: 2, 2: 5, 3: 3}


def test_rolling_fingerprint_order_sensitive(spark):
    from etl_edi_data_scrapper_spark.functions import text as T

    rows = [(1, "a b c"), (2, "c b a"), (3, "a b c")]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        r.id: r.fp
        for r in df.select(
            "id", T.rolling_fingerprint(F.col("s")).alias("fp")
        ).collect()
    }
    assert got[1] == got[3]          # deterministic
    assert got[1] != got[2]          # order matters
    assert 0 <= got[1] < T.ROLLING_M


def test_bucket_pairs_max_bucket_caps_explosion(spark):
    from etl_edi_data_scrapper_spark.functions.dedup import bucket_pairs

    rows = [(i, "hot") for i in range(10)] + [(100, "cold"), (101, "cold")]
    bk = spark.createDataFrame(rows, "doc_id long, band_key string")
    full = bucket_pairs(bk, "doc_id", ["band_key"]).count()
    assert full == 45 + 1  # C(10,2) hot + 1 cold pair
    capped = bucket_pairs(bk, "doc_id", ["band_key"], max_bucket=4)
    got = {(r.a, r.b) for r in capped.collect()}
    # hot bucket truncated to its 4 smallest ids -> C(4,2) pairs
    assert got == {(a, b) for a in range(4) for b in range(4) if a < b} | {(100, 101)}


def test_kmeans_separates_clear_clusters(spark):
    from etl_edi_data_scrapper_spark.functions.clustering import kmeans_fit

    # three tight, well-separated 4-d blobs
    rows = []
    for i, base in enumerate([0.0, 10.0, 20.0]):
        for j in range(5):
            rows.append((i * 5 + j, [base + j * 0.01, base, base, base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids, assigned = kmeans_fit(df, k=3, n_iters=4)
    got = {r.vec_id: r.cluster for r in assigned.collect()}
    # every blob lands in exactly one cluster, blobs don't mix
    blobs = [ {got[i * 5 + j] for j in range(5)} for i in range(3) ]
    assert all(len(b) == 1 for b in blobs)
    assert len(set().union(*blobs)) == 3
    assert len(centroids) == 3


def test_ivf_kmeans_centroids(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids, assigned = similarity.ivf_index(emb, n_centroids=4, train="kmeans")
    assert centroids.count() == 4
    assert assigned.count() == emb.count()
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = similarity.ivf_topk(q, centroids, assigned, k=3, nprobe=4)
    top1 = {r.q_id: r.vec_id for r in out.collect() if r.rank == 1}
    assert top1 == {0: 0, 1: 1}  # exhaustive probe -> self is rank 1


def test_connected_components_chain_and_island(spark):
    from etl_edi_data_scrapper_spark.functions.dedup import connected_components

    # path graph 1-2-3-4-5 (diameter 4 → needs several propagation rounds)
    # plus the separate pair (10, 11); min id labels each component
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "a long, b long"
    )
    out = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in connected_components(pairs).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False), 5: (1, False),
        10: (10, True), 11: (10, False),
    }


def test_scrub_pii_redactions(spark):
    rows = [
        (1, "mail me at jo.doe+x@sub.example.com today"),
        (2, "server 192.168.10.5 and backup 10.0.0.1"),
        (3, "call +1 (555) 010-4477 now"),
        (4, "no pii here just words"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {r.id: r.clean for r in df.select("id", text.scrub_pii("s").alias("clean")).collect()}
    assert got[1] == "mail me at [EMAIL] today"
    assert got[2] == "server [IP] and backup [IP]"
    assert got[3] == "call [PHONE] now"
    assert got[4] == "no pii here just words"
    counts = df.select(
        "id", *[c.alias(k) for k, c in text.pii_counts("s").items()]
    ).collect()
    by_id = {r.id: (r.email, r.ipv4, r.phone) for r in counts}
    assert by_id[1] == (1, 0, 0)
    assert by_id[2] == (0, 2, 0)
    assert by_id[3] == (0, 0, 1)


def test_connected_components_pointer_jump_long_chain(spark):
    from etl_edi_data_scrapper_spark.functions.dedup import connected_components

    # path 0-1-2-...-40: diameter 40. Plain propagation moves the min one
    # hop per round; pointer jumping collapses it in O(log n) rounds.
    # driver_max_edges=0 pins the ITERATIVE path (the r14 driver
    # union-find gate would otherwise solve this tiny graph without
    # iterating, which is exactly what this test must not exercise).
    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)], "a long, b long")
    out = connected_components(pairs, max_iters=10, driver_max_edges=0).collect()
    assert {r.cluster_id for r in out} == {0}
    assert sum(r.is_canonical for r in out) == 1
    # without jumping, 10 rounds cannot close a 40-diameter chain → strict raises
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(
            pairs, max_iters=10, pointer_jump=False, driver_max_edges=0
        )


def test_driver_union_find_matches_iterative_labels(spark):
    from etl_edi_data_scrapper_spark.functions.dedup import connected_components

    # adversarial mix: a long chain, a clique, a star, singleton pair,
    # and ids deliberately out of insertion order so the min-label rule
    # (not first-seen) decides the canonical
    edges = (
        [(i + 1, i) for i in range(100, 120)]  # chain, min id 100 arrives last
        + [(a, b) for a in (7, 9, 11) for b in (9, 11, 13) if a < b]  # clique-ish
        + [(500, 3), (501, 3), (502, 3)]  # star centred below its leaves
        + [(900, 901)]
    )
    pairs = spark.createDataFrame(edges, "a long, b long")
    driver = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in connected_components(pairs, driver_max_edges=10**6).collect()
    }
    iterative = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in connected_components(pairs, driver_max_edges=0).collect()
    }
    assert driver == iterative
    # schema parity: same names, same types, so either path drops into
    # the same downstream joins
    d_schema = connected_components(pairs, driver_max_edges=10**6).schema
    i_schema = connected_components(pairs, driver_max_edges=0).schema
    assert [(f.name, f.dataType) for f in d_schema] == [
        (f.name, f.dataType) for f in i_schema
    ]


def test_real_decode_kernel_rejects_odd_dim():
    # the 4x2-thumbnail layout yields 2*(dim//2) pixels; an odd dim would
    # silently violate the shape contract shared with fake_decode_kernel
    from etl_edi_data_scrapper_spark.functions import multimodal

    with pytest.raises(ValueError, match="even"):
        multimodal.real_decode_kernel(b"bytes", "image", dim=7)
    with pytest.raises(ValueError, match="even"):
        multimodal.real_decode_kernel(None, "image", dim=1)


def test_pack_by_token_budget_invariants(spark):
    from etl_edi_data_scrapper_spark.functions.packing import pack_by_token_budget

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (5 + i % 7))) for i in range(40)],
        "doc_id long, text string",
    )
    out = pack_by_token_budget(docs, budget=16, shards=4).collect()
    assert len(out) == 40
    by_shard = {}
    for r in sorted(out, key=lambda r: (r.pack_shard, r.doc_id)):
        assert r.pack_shard == r.doc_id % 4
        # offsets are the running concatenation stream per shard
        assert r.shard_offset == by_shard.get(r.pack_shard, 0)
        by_shard[r.pack_shard] = r.shard_offset + r.n_tokens
        # the bin is where the document STARTS
        assert r.pack_bin == r.shard_offset // 16

    with pytest.raises(ValueError, match="positive"):
        pack_by_token_budget(docs, budget=0)


def test_materialize_packed_bins(spark):
    """One row per (shard, bin): ordered docs with in-bin offsets, and the
    carry-in flag exactly where the previous bin's last doc straddles."""
    from etl_edi_data_scrapper_spark.functions.packing import (
        materialize_packed_bins,
        pack_by_token_budget,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (5 + i % 7))) for i in range(40)],
        "doc_id long, text string",
    )
    budget, shards = 16, 4
    assign = {
        r.doc_id: (r.pack_shard, r.pack_bin, r.shard_offset, r.n_tokens)
        for r in pack_by_token_budget(docs, budget=budget, shards=shards).collect()
    }
    bins = materialize_packed_bins(docs, budget=budget, shards=shards).collect()
    # every doc appears exactly once, in its assigned bin, ordered by offset
    seen = {}
    for b in bins:
        offs = [d.offset_in_bin for d in b.docs]
        assert offs == sorted(offs)
        assert b.n_docs == len(b.docs)
        if b.docs:
            assert b.bin_start_tokens == offs[0]
        else:  # carry window: no doc starts inside, straddler covers it
            assert b.bin_start_tokens is None and b.carry_in
        for d in b.docs:
            assert d.doc_id not in seen
            seen[d.doc_id] = (b.pack_shard, b.pack_bin, d.offset_in_bin, d.n_tokens)
    assert len(seen) == 40
    for i, (sh, bn, off, nt) in seen.items():
        a_sh, a_bn, a_off, a_nt = assign[i]
        assert (sh, bn, nt) == (a_sh, a_bn, a_nt)
        assert off == a_off - a_bn * budget
    # carry_in: true exactly when a bin>0 opens mid-document, i.e. the
    # doc preceding this bin's first doc spills past the boundary
    for b in bins:
        if b.pack_bin == 0:
            assert not b.carry_in
        else:
            assert b.carry_in == (
                b.bin_start_tokens is None or b.bin_start_tokens > 0
            )


def test_materialize_packed_bins_interior_bins_of_long_docs(spark):
    """A doc longer than the budget spans bins with no doc START inside:
    those windows must still get rows (empty docs, carry_in) — a
    sequence writer iterating the output must never skip a window, and
    per-shard bin numbering must be gap-free."""
    from etl_edi_data_scrapper_spark.functions.packing import (
        materialize_packed_bins,
    )

    docs = spark.createDataFrame(
        [
            (0, " ".join(["tok"] * 40)),  # bins 0,1,2 of shard 0 (budget 16)
            (2, " ".join(["tok"] * 5)),   # starts in bin 2 at offset 40-32=8
            (1, " ".join(["tok"] * 3)),   # shard 1, its own bin 0
        ],
        "doc_id long, text string",
    )
    bins = {
        (r.pack_shard, r.pack_bin): r
        for r in materialize_packed_bins(docs, budget=16, shards=2).collect()
    }
    assert set(bins) == {(0, 0), (0, 1), (0, 2), (1, 0)}  # gap-free
    assert [d.doc_id for d in bins[(0, 0)].docs] == [0]
    assert bins[(0, 1)].docs == [] and bins[(0, 1)].n_docs == 0
    assert bins[(0, 1)].carry_in and bins[(0, 1)].bin_start_tokens is None
    assert [d.doc_id for d in bins[(0, 2)].docs] == [2]
    assert bins[(0, 2)].carry_in  # doc 0 spills into bin 2 (tokens 32..39)
    assert bins[(0, 2)].docs[0].offset_in_bin == 8
    assert not bins[(1, 0)].carry_in


def test_materialize_packed_bins_accepts_precomputed_assignments(spark):
    from etl_edi_data_scrapper_spark.functions.packing import (
        materialize_packed_bins,
        pack_by_token_budget,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (5 + i % 7))) for i in range(20)],
        "doc_id long, text string",
    )
    direct = sorted(
        map(tuple, materialize_packed_bins(docs, budget=16, shards=4).collect())
    )
    pre = pack_by_token_budget(docs, budget=16, shards=4)
    reused = sorted(
        map(
            tuple,
            materialize_packed_bins(docs, budget=16, assignments=pre).collect(),
        )
    )
    assert direct == reused


def test_winnowing_guarantee_and_edges(spark):
    from etl_edi_data_scrapper_spark.functions.dedup import (
        winnowing_fingerprints,
        winnowing_shared_pairs,
    )

    passage = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (1, "completely unrelated preamble here. " + passage),
            (2, passage + " and then something entirely different follows after"),
            (3, "no overlap with anything else in this tiny corpus at all okay"),
            (4, "x"),   # fewer than n words: zero fingerprints, no crash
            (5, ""),    # empty
        ],
        "doc_id long, text string",
    )
    # the shared passage is far longer than n+w-1 words -> docs 1 and 2
    # MUST share at least one window-minimum fingerprint
    pairs = winnowing_shared_pairs(
        docs, n=3, w=8, max_df=5, min_shared=1
    ).collect()
    assert {(r.a, r.b) for r in pairs} == {(1, 2)}

    fps = winnowing_fingerprints(docs, n=3, w=8)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert 4 not in by_doc and 5 not in by_doc  # short/empty: no fingerprints
    assert by_doc[1] & by_doc[2]                # the guarantee, directly


def test_chunk_by_words_coverage_and_overlap(spark):
    import hashlib

    from etl_edi_data_scrapper_spark.functions.chunking import chunk_by_words

    words = [f"w{i}" for i in range(37)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, "solo"), (3, "a b c")],
        "doc_id long, text string",
    )
    out = chunk_by_words(docs, width=16, stride=12).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)

    # doc 1: starts at 0,12,24,36 — every token covered, consecutive chunks
    # overlap by width-stride=4, final chunk clipped to the remaining token
    rows = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.start_tok for r in rows] == [0, 12, 24, 36]
    assert [r.chunk_tokens for r in rows] == [16, 16, 13, 1]
    assert [r.chunk_idx for r in rows] == [0, 1, 2, 3]
    # chunk_hash is md5 of the space-joined window (the downstream cache key)
    expect = hashlib.md5(" ".join(words[12:28]).encode()).hexdigest()
    assert rows[1].chunk_hash == expect
    # coverage: union of [start, start+chunk_tokens) is exactly [0, 37)
    covered = set()
    for r in rows:
        covered |= set(range(r.start_tok, r.start_tok + r.chunk_tokens))
    assert covered == set(range(37))

    # short docs: exactly one clipped chunk, never padded
    assert [(r.start_tok, r.chunk_tokens) for r in by_doc[2]] == [(0, 1)]
    assert [(r.start_tok, r.chunk_tokens) for r in by_doc[3]] == [(0, 3)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        chunk_by_words(docs, width=8, stride=9)
    with _pytest.raises(ValueError, match="positive"):
        chunk_by_words(docs, width=0, stride=0)


def test_shuffle_to_shards_is_stable_permutation(spark):
    from etl_edi_data_scrapper_spark.functions.shuffle import shuffle_to_shards

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = shuffle_to_shards(docs, shards=8, seed=0).collect()
    assert len(out) == 200
    # (shard, shard_pos) is a total permutation: positions are 1..n per shard
    by_shard = {}
    for r in out:
        assert 0 <= r.shard < 8
        by_shard.setdefault(r.shard, []).append(r.shard_pos)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))

    # deterministic under repartition (physical layout must not matter)
    again = shuffle_to_shards(docs.repartition(13), shards=8, seed=0).collect()
    assert {(r.doc_id, r.shard, r.shard_pos) for r in again} == {
        (r.doc_id, r.shard, r.shard_pos) for r in out
    }

    # a different seed is a different permutation (fresh epoch order)
    other = shuffle_to_shards(docs, shards=8, seed=1).collect()
    assert {(r.doc_id, r.shard, r.shard_pos) for r in other} != {
        (r.doc_id, r.shard, r.shard_pos) for r in out
    }

    # no empty shards on 200 uniform keys (sanity on the hash spread)
    assert len(by_shard) == 8

    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        shuffle_to_shards(docs, shards=0)


def test_unigram_cross_entropy_hand_computed(spark):
    import math

    from etl_edi_data_scrapper_spark.functions.text import unigram_cross_entropy

    # corpus: 8 tokens total — "a" x4, "b" x2, "c" x1, "d" x1
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "b b c"), (3, "d")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_cross_entropy(docs, lo_milli=800, hi_milli=1500).collect()}

    def micro(p):
        return math.floor(-math.log(p) * 1_000_000)

    # doc 1: 4 tokens of p=1/2 -> avg = micro(1/2)
    assert out[1].n_tokens == 4
    assert out[1].xent_sum_micro == 4 * micro(0.5)
    assert out[1].xent_milli == (4 * micro(0.5) // 4) // 1000  # ≈ 693
    # doc 2: b(p=1/4) x2 + c(p=1/8) -> exact long arithmetic
    assert out[2].xent_sum_micro == 2 * micro(0.25) + micro(0.125)
    # doc 3: single rare token, highest entropy
    assert out[3].xent_milli == micro(0.125) // 1000  # ≈ 2079
    # keep band [800, 1500] milli-nats: doc1 (693) too repetitive, doc3
    # (2079) too surprising, doc2 (~1617) ... compute expected explicitly
    expect2 = ((2 * micro(0.25) + micro(0.125)) // 3) // 1000
    assert out[2].xent_milli == expect2
    for d in (1, 2, 3):
        assert out[d].keep == (800 <= out[d].xent_milli <= 1500)


def test_semantic_dedup_drops_near_copies_within_clusters(spark):
    from etl_edi_data_scrapper_spark.functions.clustering import semantic_dedup

    # two tight groups far apart: exact-ish copies inside each group must
    # dedup to ONE kept representative (the lowest id), the loner survives
    def v(base, eps):
        return [base + eps, base, base, base]

    rows = [
        (1, v(10.0, 0.0)), (2, v(10.0, 0.001)), (3, v(10.0, 0.002)),   # group A
        (10, v(-10.0, 0.0)), (11, v(-10.0, 0.001)),                    # group B
        (20, [5.0, -7.0, 3.0, 9.0]),                                   # loner
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in semantic_dedup(df, k=3, n_iters=2, threshold=0.999).collect()}
    assert len(out) == 6
    # each group keeps exactly its lowest id; the loner is kept
    assert out[1].keep and not out[2].keep and not out[3].keep
    assert out[10].keep and not out[11].keep
    assert out[20].keep
    # n_dupped_by counts the lower-id near-copies
    assert out[3].n_dupped_by == 2 and out[2].n_dupped_by == 1
    # verdicts are cluster-local: dropped rows share their keeper's cluster
    assert out[2].cluster == out[1].cluster == out[3].cluster
    assert out[11].cluster == out[10].cluster


def test_ivf_routed_assignment_agrees_with_flat_argmin(spark, sf_dir):
    """r6: `assign_clusters_ivf` (coarse-quantizer routing, O(sqrt(k))
    per row) must agree with the flat O(k) argmin away from cell
    boundaries — on real embeddings with k=16 and 2 probes, require
    >= 95% agreement, and exact agreement on well-separated blobs."""
    from etl_edi_data_scrapper_spark.functions.clustering import (
        assign_clusters,
        assign_clusters_ivf,
        kmeans_fit,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids, _ = kmeans_fit(emb, k=16, n_iters=3)
    flat = {r.vec_id: r.cluster for r in assign_clusters(emb, "embedding", centroids).collect()}

    # the ann_recall-style gate: agreement grows monotonically with probes
    # and exhaustive probing IS the flat argmin (measured on this data:
    # 0.764 / 0.926 / 0.984 / 1.0 for probes 1-4 with 4 coarse cells)
    agrees = []
    for p in (1, 2, 4):
        ivf = {
            r.vec_id: r.cluster
            for r in assign_clusters_ivf(emb, "embedding", centroids, n_probe=p).collect()
        }
        assert set(flat) == set(ivf)
        agrees.append(sum(flat[i] == ivf[i] for i in flat) / len(flat))
    assert agrees[0] <= agrees[1] <= agrees[2], agrees
    assert agrees[1] >= 0.9, agrees  # 2 of 4 cells already near-exact
    assert agrees[2] == 1.0, agrees  # exhaustive probe == flat argmin

    # well-separated blobs: routing is EXACT (no near-boundary vectors)
    rows = [
        (i * 5 + j, [float(base + j * 0.01), float(base), 0.0, 0.0])
        for i, base in enumerate([0.0, 10.0, 20.0, 30.0])
        for j in range(5)
    ]
    blobs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents, _ = kmeans_fit(blobs, k=4, n_iters=3)
    f2 = {r.vec_id: r.cluster for r in assign_clusters(blobs, "embedding", cents).collect()}
    i2 = {r.vec_id: r.cluster for r in assign_clusters_ivf(blobs, "embedding", cents, n_probe=1).collect()}
    assert f2 == i2


def test_semantic_dedup_web_scale_knobs_keep_verdicts(spark):
    """fit_fraction + ivf_probe (both approximations) still produce the
    right keep/drop verdicts on well-separated duplicate groups — the
    conservative property: blocking routes a vector to SOME cluster and
    verification happens within it."""
    from etl_edi_data_scrapper_spark.functions.clustering import semantic_dedup

    def v(base, eps):
        return [base + eps, base, base, base]

    rows = (
        [(i, v(10.0, 0.001 * i)) for i in range(1, 4)]
        + [(10 + i, v(-10.0, 0.001 * i)) for i in range(2)]
        + [(20, [5.0, -7.0, 3.0, 9.0])]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            df, k=3, n_iters=2, threshold=0.999, fit_fraction=0.99, ivf_probe=2
        ).collect()
    }
    assert out[1].keep and not out[2].keep and not out[3].keep
    assert out[10].keep and not out[11].keep
    assert out[20].keep


def test_chunk_and_shuffle_match_pure_python_model(spark):
    """Model test: both operators replicated independently in pure Python
    over a varied corpus (empty-ish, one-token, exact-boundary and long
    docs) — every output row must match the model exactly."""
    import hashlib

    from etl_edi_data_scrapper_spark.functions.chunking import chunk_by_words
    from etl_edi_data_scrapper_spark.functions.shuffle import shuffle_to_shards

    W, S, SHARDS, SEED = 7, 5, 6, 3
    docs = [(i, " ".join(f"t{i}_{j}" for j in range(n)))
            for i, n in enumerate([1, 2, 4, 5, 6, 7, 8, 10, 14, 15, 21, 35, 36])]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # chunking model
    expect = {}
    for i, text in docs:
        toks = text.split(" ")
        for idx, start in enumerate(range(0, len(toks), S)):
            chunk = toks[start : start + W]
            expect[(i, idx)] = (
                start, len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    got = {
        (r.doc_id, r.chunk_idx): (r.start_tok, r.chunk_tokens, r.chunk_hash)
        for r in chunk_by_words(df, width=W, stride=S).collect()
    }
    assert got == expect

    # shuffle model: seeded md5 key, first-8-hex-chars shard, rank in shard
    keys = {i: hashlib.md5(f"{SEED}:{i}".encode()).hexdigest() for i, _ in docs}
    shard_of = {i: int(k[:8], 16) % SHARDS for i, k in keys.items()}
    expect_pos = {}
    for sh in range(SHARDS):
        members = sorted((keys[i], i) for i in shard_of if shard_of[i] == sh)
        for pos, (_, i) in enumerate(members, start=1):
            expect_pos[i] = (sh, pos)
    got_shuffle = {
        r.doc_id: (r.shard, r.shard_pos)
        for r in shuffle_to_shards(df, shards=SHARDS, seed=SEED).collect()
    }
    assert got_shuffle == expect_pos


def test_simhash_pairs_max_block_guard(spark):
    """max_block truncates degenerate blocks (e.g. many byte-identical
    docs → identical signatures → one giant block) to bound the local
    quadratic pairing work, keeping the smallest ids. Checked on the
    single-width `simhash` signature, blocked on its whole value, through
    the `_block_pairs` guard that `simhash_pairs_multi` pairs with."""
    from etl_edi_data_scrapper_spark.functions.dedup import _block_pairs, simhash

    docs = spark.createDataFrame(
        [(i, "identical text body repeated many times over and over") for i in range(20)]
        + [(100, "a completely different document about other things entirely")],
        "doc_id long, text string",
    )
    grp = (
        simhash(docs)
        .groupBy("simhash")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.struct(F.col("doc_id").alias("i"), F.col("simhash").alias("s"))
                )
            ).alias("m")
        )
        .filter(F.size("m") > 1)
    )

    def hamming(x, y):
        return F.bit_count(x["s"].bitwiseXOR(y["s"]))

    full = _block_pairs(grp, hamming, max_hamming=0).collect()
    assert len(full) == 20 * 19 // 2  # the 20-clone family, all pairs

    capped = _block_pairs(grp, hamming, max_hamming=0, max_block=5).collect()
    # truncated to the 5 smallest ids -> exactly C(5,2) pairs, ids 0-4
    assert len(capped) == 10
    assert {x for r in capped for x in (r.a, r.b)} == {0, 1, 2, 3, 4}


def test_simhash_pairs_multi_max_block_guard(spark):
    """r6: the guard is threaded through the two-width composite path too
    (the unguarded 48-bit leg OOM'ed a 30x replication's pair explosion).
    Capped: both legs' clone-family pairs shrink to the 5 smallest ids."""
    from etl_edi_data_scrapper_spark.functions.dedup import simhash_pairs_multi

    docs = spark.createDataFrame(
        [(i, "identical text body repeated many times over and over") for i in range(20)]
        + [(100, "a completely different document about other things entirely")],
        "doc_id long, text string",
    )
    full = simhash_pairs_multi(docs, max_hamming=0).collect()
    by_leg = {}
    for r in full:
        by_leg.setdefault(r.sig_bits, set()).add((r.a, r.b))
    assert {len(v) for v in by_leg.values()} == {20 * 19 // 2}

    capped = simhash_pairs_multi(docs, max_hamming=0, max_block=5).collect()
    ids = {x for r in capped for x in (r.a, r.b)}
    assert ids == {0, 1, 2, 3, 4}
    assert len([r for r in capped if r.sig_bits == 48]) == 10
    assert len([r for r in capped if r.sig_bits == 64]) == 10


def test_ivf_empty_coarse_cells_never_yield_sentinel(spark):
    """Duplicate/stale fine centroids can leave coarse cells empty; the
    routing must drop those cells instead of resolving to cluster -1
    (which would lump unrelated vectors into one dedup block)."""
    from etl_edi_data_scrapper_spark.functions.clustering import (
        assign_clusters,
        assign_clusters_ivf,
    )

    # 9 fine centroids, 8 of them identical -> coarse k-means (k=3) leaves
    # at least one coarse cell owning nothing
    centroids = [[0.0, 0.0]] * 8 + [[10.0, 10.0]]
    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(20)]
        + [(100, [9.0, 9.0])],
        "vec_id long, embedding array<double>",
    )
    got = assign_clusters_ivf(df, "embedding", centroids, n_probe=2).collect()
    assert all(0 <= r["cluster"] < len(centroids) for r in got)
    # the far vector must still route to the far centroid, as flat argmin does
    flat = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(df, "embedding", centroids).collect()
    }
    ivf = {r["vec_id"]: r["cluster"] for r in got}
    assert ivf[100] == flat[100] == 8


def test_kmeans_fit_sample_smaller_than_k_clamps(spark):
    """fit_fraction sampling can yield fewer than k vectors; the update
    loop must clamp k to the sample instead of IndexError-ing."""
    import hashlib

    from etl_edi_data_scrapper_spark.functions.clustering import kmeans_fit

    ids = list(range(20))
    pct = 5
    sampled = [
        i
        for i in ids
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100 < pct
    ]
    assert 0 < len(sampled) < 8  # the precondition this test exists for
    df = spark.createDataFrame(
        [(i, [float(i), float(2 * i)]) for i in ids],
        "vec_id long, embedding array<double>",
    )
    centroids, assigned = kmeans_fit(
        df, k=8, n_iters=2, fit_fraction=pct / 100
    )
    assert len(centroids) == len(sampled)
    rows = assigned.collect()
    assert len(rows) == len(ids)  # final assignment covers the FULL frame
    assert all(0 <= r["cluster"] < len(centroids) for r in rows)


def _model_bigram_xent(corpus, fit_pct=50, alpha_milli=400):
    """Pure-Python bigram_cross_entropy (stupid backoff, md5 fit half)."""
    import hashlib
    import math

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100

    fit = [(d, t) for d, t in corpus if bucket(d) < fit_pct]
    uni, big, ctx = {}, {}, {}
    for _, text in fit:
        toks = text.split(" ")
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
            ctx[a] = ctx.get(a, 0) + 1
    total, v = sum(uni.values()), len(uni)
    alpha = alpha_milli / 1000.0

    def p1(w):
        return (uni.get(w, 0) + 1) / (total + v)

    out = {}
    for d, text in corpus:
        toks = text.split(" ")
        s = math.floor(-math.log(p1(toks[0])) * 1_000_000)
        for a, b in zip(toks, toks[1:]):
            if (a, b) in big:
                p = big[(a, b)] / ctx[a]
            else:
                p = alpha * p1(b)
            s += math.floor(-math.log(p) * 1_000_000)
        out[d] = (len(toks), s, (s // len(toks)) // 1000)
    return out


def test_bigram_cross_entropy_matches_python_model(spark):
    import random

    from etl_edi_data_scrapper_spark.functions.text import bigram_cross_entropy

    rng = random.Random(23)
    vocab = ["the", "cat", "sat", "on", "mat", "dog", "ran", "far"]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(80)
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.bxent_sum_micro, r.bxent_milli)
        for r in bigram_cross_entropy(df).collect()
    }
    assert got == _model_bigram_xent(corpus)


def test_bigram_catches_token_shuffle_the_unigram_misses(spark):
    """The whole point of the upgrade: a token-shuffled document has
    IDENTICAL term frequencies (unigram xent exactly equal) but its word
    order is garbage (bigram xent strictly higher — and outside a band the
    natural document passes)."""
    import random

    from etl_edi_data_scrapper_spark.functions.text import (
        bigram_cross_entropy,
        unigram_cross_entropy,
    )

    rng = random.Random(5)
    # natural-ish corpus: heavily reused word ORDER (sentence templates)
    templates = [
        "the cat sat on the mat",
        "the dog ran to the cat",
        "a dog sat on a mat",
    ]
    corpus = [(i, templates[i % 3] + " " + templates[(i + 1) % 3]) for i in range(40)]
    # doc 100: natural; doc 101: same tokens, shuffled order
    natural = templates[0] + " " + templates[1] + " " + templates[2]
    toks = natural.split(" ")
    rng.shuffle(toks)
    corpus += [(100, natural), (101, " ".join(toks))]
    df = spark.createDataFrame(corpus, "doc_id long, text string")

    uni = {r.doc_id: r.xent_sum_micro for r in unigram_cross_entropy(df).collect()}
    assert uni[100] == uni[101], "unigram must be order-blind"

    bx = {r.doc_id: r.bxent_milli for r in bigram_cross_entropy(df).collect()}
    assert bx[101] > bx[100], "bigram must penalize the shuffled order"
    # a band bracketing the natural doc drops the shuffled one
    mid = (bx[100] + bx[101]) // 2
    keep = {
        r.doc_id: r.keep
        for r in bigram_cross_entropy(df, lo_milli=0, hi_milli=mid).collect()
    }
    assert keep[100] is True and keep[101] is False


def test_bigram_empty_fit_split_fails_fast(spark):
    """fit_pct=0 (or a corpus whose ids all hash into the held-out half)
    leaves the model fitless; scores must RAISE, not go silently NULL
    (NULL keep verdicts vanish from curate CLI stats — advisor, r8)."""
    import pytest

    from etl_edi_data_scrapper_spark.functions.text import bigram_cross_entropy

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="fit split is empty"):
        bigram_cross_entropy(df, fit_pct=0).collect()


# --- audio: live stdlib PCM-WAV kernel (r11) ---------------------------------


def _wav_bytes(nch=1, sw=2, fr=8000, seconds=0.1, amp=0.5, freq=440.0):
    """In-memory PCM WAV via the stdlib wave writer — the same public
    container format the kernel parses, no codec dependency anywhere."""
    import io
    import math
    import struct
    import wave

    n = int(fr * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(sw)
        w.setframerate(fr)
        for i in range(n):
            v = amp * math.sin(2 * math.pi * freq * i / fr)
            for _ in range(nch):
                if sw == 1:
                    w.writeframesraw(struct.pack("B", int(128 + v * 127)))
                else:
                    w.writeframesraw(struct.pack("<h", int(v * 32767)))
    return buf.getvalue()


def test_real_kernel_decodes_pcm_wav():
    """The audio kernel is LIVE for PCM WAV (stdlib wave + numpy, zero
    new dependencies): a sine at amplitude 0.5 yields an RMS envelope
    near 0.5/sqrt(2) in every window, silence yields zeros, stereo folds
    to mono, and DecoderUnavailable is reserved for genuinely
    codec-bound bytes (non-WAV audio; compressed WAVE) while truncation
    degrades to a NULL feature (r10 verdict next-round #7)."""
    import math

    rms = 0.5 / math.sqrt(2)
    feats = multimodal.real_decode_kernel(_wav_bytes(), "audio")
    assert len(feats) == 8
    assert all(abs(v - rms) < 0.03 for v in feats), feats
    # silence → zero envelope
    silent = multimodal.real_decode_kernel(_wav_bytes(amp=0.0), "audio")
    assert all(v < 0.02 for v in silent)
    # stereo 8-bit folds to mono and still sees the sine
    st = multimodal.real_decode_kernel(_wav_bytes(nch=2, sw=1), "audio")
    assert len(st) == 8 and all(abs(v - rms) < 0.05 for v in st)
    # non-WAV audio bytes stay codec-gated
    with pytest.raises(multimodal.DecoderUnavailable):
        multimodal.real_decode_kernel(b"ID3\x03mp3-ish bytes", "audio")
    # a WAVE container with a compression tag the stdlib reader lacks
    # (format 2 = MS ADPCM) is codec-bound, not corrupt
    import struct as _s

    adpcm = (
        b"RIFF" + _s.pack("<I", 36) + b"WAVE"
        + b"fmt " + _s.pack("<IHHIIHH", 16, 2, 1, 8000, 8000, 1, 4)
        + b"data" + _s.pack("<I", 0)
    )
    with pytest.raises(multimodal.DecoderUnavailable):
        multimodal.real_decode_kernel(adpcm, "audio")
    # truncated PCM container → NULL feature, never an exception
    assert multimodal.real_decode_kernel(_wav_bytes()[:30], "audio") is None


def test_real_kernel_audio_through_arrow_path(spark):
    """The live WAV kernel flows through the identical extract_features
    Arrow path as every other kernel — same schema, same dim."""
    rows = [
        (1, "audio", _wav_bytes(), ("audio/wav", None, None, 100)),
        (2, "audio", None, ("audio/wav", None, None, 0)),
        (3, "audio", _wav_bytes()[:30], ("audio/wav", None, None, 0)),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.extract_features(
            df, kernel=multimodal.real_decode_kernel
        ).collect()
    }
    assert len(out[1].feature) == 8 and max(out[1].feature) > 0.2
    assert out[2].feature == [0.0] * 8  # null content parity with fake
    assert out[3].feature is None  # truncated blob → NULL row


def test_extract_features_mixed_corpus_nulls_codec_bound_rows(spark):
    """One MP3 among the WAVs must not abort the stage: per-row
    DecoderUnavailable degrades to a NULL feature inside
    extract_features (r11 review), while the PCM rows still decode.
    Environment-uniform unavailability (cause = ImportError, a missing
    codec LIBRARY) still propagates — silently NULLing 100% of a
    modality would be worse than failing fast. (r12: the video row moved
    OUT of this test's codec-bound-content set — with the PyAV-gated
    kernel, a video row in a PyAV-less environment is the
    missing-LIBRARY case and correctly propagates; its mixed-corpus
    behavior is covered by the gated/live video tests. Row 3 here is
    now an ADPCM WAVE: a container the stdlib reader rejects as
    codec-bound CONTENT, no ImportError cause.)"""
    import pytest

    # minimal RIFF/WAVE whose fmt tag is 2 (ADPCM): wave.open raises
    # wave.Error -> DecoderUnavailable WITHOUT an ImportError cause
    adpcm = (
        b"RIFF" + (36).to_bytes(4, "little") + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (4000).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + b"data" + (0).to_bytes(4, "little")
    )
    rows = [
        (1, "audio", _wav_bytes(), ("audio/wav", None, None, 2_000)),
        (2, "audio", b"ID3\x03 mp3-ish bytes", ("audio/mpeg", None, None, 2_000)),
        (3, "audio", adpcm, ("audio/adpcm", None, None, 2_000)),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.extract_features(
            df, kernel=multimodal.real_decode_kernel
        ).collect()
    }
    assert len(out[1].feature) == 8  # the PCM row decodes
    assert out[2].feature is None  # codec-bound CONTENT -> NULL, no abort
    assert out[3].feature is None  # ADPCM WAVE container -> NULL, no abort

    def env_gated(content, kind, dim=8):
        try:
            raise ImportError("pretend the codec lib is missing")
        except ImportError as e:
            raise multimodal.DecoderUnavailable("lib missing") from e

    with pytest.raises(Exception):  # Py4J wraps the worker's exception
        multimodal.extract_features(df, kernel=env_gated).collect()


def test_video_kernel_gated_with_crisp_error():
    """r12 (r11 verdict #8): video is no longer a bare stub — the kernel
    is PyAV-gated like Pillow for images. Without av installed, the
    kernel raises DecoderUnavailable whose __cause__ is the ImportError (the fail-fast marker: a missing
    library is environment-uniform) with a message naming the package;
    extract_features therefore fails fast instead of NULLing 100% of the
    video modality."""
    try:
        import av  # noqa: F401

        pytest.skip("PyAV installed — the video path is live, see below")
    except ImportError:
        pass
    with pytest.raises(multimodal.DecoderUnavailable, match="PyAV") as ei:
        multimodal.real_decode_kernel(b"\x00\x00\x00\x18ftypmp42", "video")
    assert isinstance(ei.value.__cause__, ImportError)


def test_video_kernel_decodes_when_pyav_present(spark):
    """Runs wherever PyAV exists (real clusters); skipped here. The REAL
    video kernel flows through the identical extract_features Arrow path
    with the image kernel's dim contract: first frame, grayscale,
    2×(dim//2) block-mean grid, values in [0, 1]; corrupt bytes → NULL
    row."""
    av = pytest.importorskip("av")
    import io

    import numpy as np

    def clip(shade: int) -> bytes:
        buf = io.BytesIO()
        with av.open(buf, "w", format="mp4") as out:
            st = out.add_stream("mpeg4", rate=4)
            st.width, st.height, st.pix_fmt = 32, 16, "yuv420p"
            for _ in range(4):
                arr = np.full((16, 32, 3), shade, dtype=np.uint8)
                frame = av.VideoFrame.from_ndarray(arr, format="rgb24")
                for pkt in st.encode(frame):
                    out.mux(pkt)
            for pkt in st.encode():
                out.mux(pkt)
        return buf.getvalue()

    rows = [
        (1, "video", clip(0), ("video/mp4", 32, 16, 1000)),
        (2, "video", clip(255), ("video/mp4", 32, 16, 1000)),
        (3, "video", None, ("video/mp4", 0, 0, None)),
        (4, "video", b"not a video blob", ("video/mp4", 0, 0, None)),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in multimodal.extract_features(
            df, kernel=multimodal.real_decode_kernel
        ).collect()
    }
    assert len(out[1].feature) == 8 == len(out[2].feature)
    assert all(v < 0.15 for v in out[1].feature)  # black clip
    assert all(v > 0.85 for v in out[2].feature)  # white clip
    assert out[3].feature == [0.0] * 8  # null content parity with fake
    assert out[4].feature is None  # corrupt bytes → NULL row


def test_reference_lm_xent_and_persistence(spark, sf_dir, tmp_path):
    """r14 (CCNet deploy shape): unigram_cross_entropy(lm=) scores
    against a persisted reference LM. Fit on the SAME corpus, results
    are IDENTICAL to self-fit (no OOV, same counts); an OOV-bearing doc
    scores its unseen terms as hapax against the reference total (hand-
    checked); save/load round-trips through parquet with a schema-
    checked load; the fit-lm CLI builds the artifact."""
    import math

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.functions.text import (
        fit_unigram_lm,
        load_unigram_lm,
        save_unigram_lm,
        unigram_cross_entropy,
    )

    rows = [(1, "aa bb aa cc"), (2, "aa bb bb"), (3, "cc aa aa bb")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    self_fit = {r.doc_id: tuple(r) for r in unigram_cross_entropy(docs).collect()}
    lm = fit_unigram_lm(docs)
    via_lm = {
        r.doc_id: tuple(r)
        for r in unigram_cross_entropy(docs, lm=lm).collect()
    }
    assert via_lm == self_fit

    path = str(tmp_path / "lm")
    save_unigram_lm(lm, path)
    loaded = load_unigram_lm(spark, path)
    via_loaded = {
        r.doc_id: tuple(r)
        for r in unigram_cross_entropy(docs, lm=loaded).collect()
    }
    assert via_loaded == self_fit

    # OOV doc: 'zz' is unseen -> hapax count 1 against the reference
    # total (10 tokens: aa*5 bb*4 cc*... compute: aa appears 5? rows:
    # doc1 aa,bb,aa,cc; doc2 aa,bb,bb; doc3 cc,aa,aa,bb -> aa=5 bb=4
    # cc=2, total=11)
    oov = spark.createDataFrame([(9, "zz aa")], "doc_id long, text string")
    got = unigram_cross_entropy(oov, lm=loaded).collect()[0]
    exp_zz = math.floor(-math.log(1.0 / 11.0) * 1_000_000)
    exp_aa = math.floor(-math.log(5.0 / 11.0) * 1_000_000)
    assert got.n_tokens == 2
    assert got.xent_sum_micro == exp_zz + exp_aa

    with pytest.raises(ValueError, match="not a unigram LM"):
        docs.write.mode("overwrite").parquet(str(tmp_path / "junk"))
        load_unigram_lm(spark, str(tmp_path / "junk"))

    out_lm = str(tmp_path / "cli_lm")
    eng = Engine(spark=spark)
    assert main(
        ["fit-lm", "--docs", f"{sf_dir}/documents.parquet",
         "--output", out_lm],
        engine=eng,
    ) == 0
    assert load_unigram_lm(spark, out_lm).count() == 31  # synthetic vocab


def test_bigram_reference_lm_and_persistence(spark, sf_dir, tmp_path):
    """r14: bigram_cross_entropy(lm=) under a model fit on the SAME
    md5-half split reproduces the self-fit results exactly (the deploy
    shape generalizes the sandboxed self-fit); the two-table artifact
    round-trips through parquet with a schema-checked load; the
    fit-lm --bigram CLI builds it."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.functions.hashing import hex_word
    from etl_edi_data_scrapper_spark.functions.text import (
        bigram_cross_entropy,
        fit_bigram_lm,
        load_bigram_lm,
        save_bigram_lm,
    )
    from pyspark.sql import functions as F

    rows = [(i, "the cat sat on the mat and the dog ran %d" % (i % 3))
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    self_fit = {r.doc_id: tuple(r)
                for r in bigram_cross_entropy(docs).collect()}
    half = docs.filter(
        hex_word(F.md5(F.col("doc_id").cast("string")), 1) % 100 < 50
    )
    lm = fit_bigram_lm(half)
    via_lm = {r.doc_id: tuple(r)
              for r in bigram_cross_entropy(docs, lm=lm).collect()}
    assert via_lm == self_fit

    path = str(tmp_path / "blm")
    save_bigram_lm(lm, path)
    loaded = load_bigram_lm(spark, path)
    via_loaded = {r.doc_id: tuple(r)
                  for r in bigram_cross_entropy(docs, lm=loaded).collect()}
    assert via_loaded == self_fit

    with pytest.raises(ValueError, match="not a bigram LM"):
        docs.write.mode("overwrite").parquet(str(tmp_path / "junk2/uni"))
        docs.write.mode("overwrite").parquet(str(tmp_path / "junk2/big"))
        load_bigram_lm(spark, str(tmp_path / "junk2"))

    out_lm = str(tmp_path / "cli_blm")
    eng = Engine(spark=spark)
    assert main(
        ["fit-lm", "--docs", f"{sf_dir}/documents.parquet",
         "--output", out_lm, "--bigram"],
        engine=eng,
    ) == 0
    uni, big = load_bigram_lm(spark, out_lm)
    assert uni.count() == 31 and big.count() > 31
