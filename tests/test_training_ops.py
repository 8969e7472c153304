"""Training-data operators: dedup suite vs brute-force oracles, similarity
search vs numpy, multimodal plumbing, text stats edge cases."""

from __future__ import annotations

import itertools

import numpy as np
from pyspark.sql import functions as F

from neuronews_spark.operators.dedup import (
    dedup_exact,
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from neuronews_spark.operators.multimodal import (
    decode_features,
    frame_sample_plan,
    synthetic_media,
)
from neuronews_spark.operators.similarity_search import cosine_topk, ivf_topk


def _docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "s"),
        (2, base, "s"),                                  # exact dup of 1
        (3, base.replace("kappa", "lambda"), "s"),       # near dup of 1
        (4, "totally different words entirely here now", "s"),
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu", "s"),  # superset
        (6, "one two three four five six seven eight nine ten", "s"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup(spark):
    d = _docs(spark)
    groups = exact_duplicate_groups(d).collect()
    assert len(groups) == 1 and groups[0]["doc_ids"] == [1, 2]
    kept = dedup_exact(d).select("doc_id").collect()
    ids = {r["doc_id"] for r in kept}
    assert ids == {1, 3, 4, 5, 6}  # min-id representative kept


def _brute_jaccard(rows, n):
    def grams(text):
        toks = text.lower().split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    out = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        ga, gb = grams(ta), grams(tb)
        j = len(ga & gb) / len(ga | gb)
        out[(min(ia, ib), max(ia, ib))] = j
    return out


def test_minhash_candidates_verified_by_exact_jaccard(spark):
    d = _docs(spark)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(
            d, jaccard_threshold=0.5, shingle_n=3
        ).collect()
    }
    brute = _brute_jaccard(
        [(r["doc_id"], r["text"]) for r in d.collect()], 3
    )
    expected = {k: v for k, v in brute.items() if v >= 0.5}
    # verification makes precision exact; LSH with 32x8 at J>=0.5 gives
    # ~certain recall on this corpus
    assert set(got) == set(expected), (got, expected)
    for k, v in got.items():
        assert abs(v - expected[k]) < 1e-6


def test_simhash_exact_dups_have_zero_hamming(spark):
    d = _docs(spark)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(d, max_hamming=3).collect()
    }
    assert got.get((1, 2)) == 0  # identical text → identical signature


def test_simhash_fast_kernel_matches_column_reference(spark):
    """The Arrow-UDF signature (hash-once + numpy majority vote) must be
    bit-identical to the pure-Column simhash64 reference kernel."""
    from neuronews_spark.operators.dedup import simhash64, simhash_from_hashes_udf
    from neuronews_spark.operators.text_stats import ws_tokens

    d = _docs(spark).union(
        spark.createDataFrame(
            [(7, "Unicode wörds ärè fine too ümlaut", "s"), (8, "single", "s")],
            "doc_id long, text string, source string",
        )
    )
    toks = F.transform(ws_tokens(F.col("text")), lambda x: F.lower(x))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    sig_udf = simhash_from_hashes_udf()
    rows = d.select(
        "doc_id",
        simhash64(toks).alias("ref_sig"),
        sig_udf(hashes).alias("fast_sig"),
    ).collect()
    assert rows
    for r in rows:
        assert r["ref_sig"] == r["fast_sig"], r


def test_ngram_jaccard_pairs_blocked(spark):
    d = _docs(spark)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            d, block_col="source", n=1, threshold=0.8
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 3) in got  # 9/11 tokens shared
    assert (1, 5) in got  # containment: 10/11
    assert (1, 4) not in got


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(40)], "vec_id long, embedding array<float>"
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(emb, queries, k=5).collect()
    v64 = vecs.astype(np.float64)
    norms = np.linalg.norm(v64, axis=1)
    for q in range(3):
        sims = (v64 @ v64[q]) / (norms * norms[q])
        order = sorted(range(40), key=lambda i: (-round(sims[i], 6), i))[:5]
        got_q = sorted(
            [r for r in got if r["query_id"] == q], key=lambda r: r["rank"]
        )
        assert [r["vec_id"] for r in got_q] == order
        for r in got_q:
            assert abs(r["sim"] - sims[r["vec_id"]]) < 1e-5


def test_ivf_topk_full_probe_is_exact(spark):
    rng = np.random.default_rng(4)
    vecs = rng.standard_normal((30, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(30)], "vec_id long, embedding array<float>"
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(
            emb, queries, k=3, n_centroids=4, n_probe=4
        ).collect()
    }
    assert approx == exact  # probing all cells recovers exact results


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, n=30)
    feats = decode_features(media).collect()
    assert len(feats) == 30
    by_id = {r["media_id"]: r for r in feats}
    assert all(len(r["feature"]) == 16 for r in feats)
    # deterministic: same payload → same feature
    again = {r["media_id"]: r for r in decode_features(media).collect()}
    assert by_id["m0001"]["feature"] == again["m0001"]["feature"]
    # frame sampling plan: one row per second of video
    plan = frame_sample_plan(media, every_s=1.0)
    vids = {r["media_id"] for r in plan.collect()}
    assert vids == {r["media_id"] for r in media.filter(F.col("modality") == "video").collect()}


def test_real_decoder_gate(spark):
    """require_real_decoder now resolves to the built-in pure-numpy BMP
    decoder: real pixels for BMP payloads, hard failure (never a silent
    fake) for undecodable ones."""
    import numpy as np
    import pytest

    from neuronews_spark.functions.bmp import bmp_features

    # hash-garbage payloads (mime image/png) are not decodable → the job
    # fails at decode time instead of faking
    garbage = synthetic_media(spark, n=3)
    with pytest.raises(Exception, match="BMP"):
        decode_features(garbage, require_real_decoder=True).collect()

    # real BMP payloads decode for real — differential vs the kernel
    # (image rows only: the decoder applies to every row it is given)
    media = synthetic_media(spark, n=9, image_format="bmp").filter(
        F.col("modality") == "image"
    )
    rows = {
        r["media_id"]: r
        for r in decode_features(media, require_real_decoder=True).collect()
    }
    src = {
        r["media_id"]: bytes(r["payload"])
        for r in media.filter(F.col("modality") == "image").collect()
    }
    assert rows and set(rows) == set(src)
    for mid, payload in src.items():
        np.testing.assert_allclose(
            np.array(rows[mid]["feature"], dtype=np.float32),
            bmp_features(payload),
            rtol=1e-6,
        )


def test_resize_images_plumbing(spark):
    import pytest

    from neuronews_spark.operators.multimodal import resize_images

    media = synthetic_media(spark, n=30)
    n_images = media.filter(F.col("modality") == "image").count()
    out = resize_images(media, width=8, height=6).collect()
    assert len(out) == n_images
    assert all(r["width"] == 8 and r["height"] == 6 for r in out)
    # nominal RGB byte volume + determinism (payload-keyed fake codec)
    assert all(len(r["payload"]) == 8 * 6 * 3 for r in out)
    again = {r["media_id"]: bytes(r["payload"]) for r in resize_images(media, 8, 6).collect()}
    first = {r["media_id"]: bytes(r["payload"]) for r in out}
    assert first == again
    # require_real over undecodable payloads fails instead of faking
    with pytest.raises(Exception, match="BMP"):
        resize_images(media, 8, 6, require_real_resizer=True).collect()
    # injected resizer is actually used
    got = resize_images(media, 4, 4, resizer=lambda p, w, h: b"x" * (w * h)).collect()
    assert all(bytes(r["payload"]) == b"x" * 16 for r in got)


def test_resize_images_real_bmp_path(spark):
    """require_real_resizer over BMP media: output payloads are valid
    BMPs at the target dims, equal to the kernel resize of the source."""
    import numpy as np

    from neuronews_spark.functions.bmp import decode_bmp, resize_bilinear
    from neuronews_spark.operators.multimodal import resize_images

    media = synthetic_media(spark, n=12, image_format="bmp")
    out = {
        r["media_id"]: bytes(r["payload"])
        for r in resize_images(media, 8, 6, require_real_resizer=True).collect()
    }
    src = {
        r["media_id"]: bytes(r["payload"])
        for r in media.filter(F.col("modality") == "image").collect()
    }
    assert set(out) == set(src) and out
    for mid, payload in src.items():
        got = decode_bmp(out[mid])
        assert got.shape == (6, 8, 3)
        np.testing.assert_array_equal(
            got, resize_bilinear(decode_bmp(payload), 8, 6)
        )


def test_lang_id_and_quality(spark):
    from neuronews_spark.operators.text_stats import language_id, quality_features

    d = spark.createDataFrame(
        [
            (1, "the cat is on the mat and it is happy"),
            (2, "der hund ist nicht mit der katze und das ist gut"),
            (3, "le chat est dans la maison pour le moment"),
            (4, "xyzzy plugh"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    langs = {r["doc_id"]: r["lang"] for r in d.select("doc_id", language_id(F.col("text")).alias("lang")).collect()}
    assert langs[1] == "en" and langs[2] == "de" and langs[3] == "fr"
    assert langs[4] == "und" and langs[5] == "und"
    q = {r["doc_id"]: r for r in quality_features(d).collect()}
    assert q[1]["q_score"] > q[4]["q_score"] > q[5]["q_score"]
    assert q[5]["q_n_tokens"] == 0


def test_embedding_cosine_pairs_matches_numpy(spark):
    from neuronews_spark.operators.dedup import embedding_cosine_pairs

    rng = np.random.default_rng(11)
    # planted near-dups: vec i+100 = vec i + small noise, same block
    base = rng.standard_normal((20, 16)).astype(np.float32)
    noisy = (base + 0.05 * rng.standard_normal((20, 16))).astype(np.float32)
    rows = [(i, base[i].tolist(), i % 3) for i in range(20)] + [
        (i + 100, noisy[i].tolist(), i % 3) for i in range(20)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in embedding_cosine_pairs(
            emb, block_col="label", threshold=0.95
        ).collect()
    }
    # every planted pair shares a block and has cosine ≈ 1
    for i in range(20):
        assert (i, i + 100) in got and got[(i, i + 100)] >= 0.95
    # brute-force check: no pair above threshold is missed within blocks
    v = {r[0]: (np.asarray(r[1], dtype=np.float64), r[2]) for r in rows}
    expect = set()
    for a in v:
        for b in v:
            if a < b and v[a][1] == v[b][1]:
                va, vb = v[a][0], v[b][0]
                sim = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
                if round(sim, 6) >= 0.95:
                    expect.add((a, b))
    assert set(got) == expect


def test_srp_lsh_near_dups_recall_and_precision(spark):
    from neuronews_spark.operators.dedup import (
        embedding_cosine_pairs,
        srp_lsh_near_dups,
    )

    rng = np.random.default_rng(12)
    base = rng.standard_normal((30, 32)).astype(np.float32)
    noisy = (base + 0.02 * rng.standard_normal((30, 32))).astype(np.float32)
    rows = [(i, base[i].tolist()) for i in range(30)] + [
        (i + 100, noisy[i].tolist()) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_pairs(emb, threshold=0.95).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in srp_lsh_near_dups(emb, threshold=0.95).collect()
    }
    # precision is exact by construction (cosine-verified candidates)
    assert lsh <= exact
    # near-identical pairs (cos ≈ 0.999) must essentially all be recalled
    assert len(lsh) >= 0.9 * len(exact) and len(exact) >= 30


def test_srp_bucket_verify_matches_pair_materialized_verify(spark):
    """Differential: the bucket-local matmul verify must emit EXACTLY the
    pairs+sims a pair-materializing exact verify over the same LSH buckets
    emits (the round-2 plan). String ids also pin the id_a < id_b ordering
    to Spark's binary string comparison."""
    from neuronews_spark.operators.dedup import (
        srp_lsh_near_dups,
        srp_signature_udf,
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16))
    rows = []
    for i in range(40):
        rows.append((f"v{i:03d}", base[i].tolist()))
        if i % 3 == 0:  # planted near-dups
            noisy = base[i] + 0.03 * rng.standard_normal(16)
            rows.append((f"w{i:03d}", noisy.tolist()))
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")

    got = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in srp_lsh_near_dups(
            emb, "vec_id", "embedding", threshold=0.9, n_planes=16, bands=4
        ).collect()
    }

    # reference kernel: same signatures → same buckets → materialized
    # candidate pairs → exact cosine, all in the driver
    sig_rows = emb.select(
        "vec_id", srp_signature_udf(16, 16, 7)(F.col("embedding")).alias("sig")
    ).collect()
    vecs = {vid: np.asarray(v, dtype=np.float64) for vid, v in rows}
    buckets: dict[str, list[str]] = {}
    r_bits, mask = 4, (1 << 4) - 1
    for row in sig_rows:
        for b in range(4):
            key = f"{b}:{(row['sig'] >> (b * r_bits)) & mask}"
            buckets.setdefault(key, []).append(row["vec_id"])
    expect = {}
    for members in buckets.values():
        for a, b in itertools.combinations(sorted(members), 2):
            va, vb = vecs[a], vecs[b]
            sim = round(
                float(va @ vb) / (np.linalg.norm(va) * np.linalg.norm(vb)), 6
            )
            if sim >= 0.9:
                expect[(a, b)] = sim
    assert got == expect and len(expect) >= 10


def test_stratified_sample_deterministic_and_rate(spark):
    from neuronews_spark.operators.dedup import stratified_sample

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 2), "t") for i in range(2000)],
        "doc_id long, strat string, text string",
    )
    got = stratified_sample(docs, "strat", 0.3, id_col="doc_id")
    n = got.count()
    assert abs(n / 2000 - 0.3) < 0.05  # uniform draw ≈ rate
    # pure function of id: identical on re-run
    ids1 = {r["doc_id"] for r in got.collect()}
    ids2 = {r["doc_id"] for r in stratified_sample(docs, "strat", 0.3).collect()}
    assert ids1 == ids2
    # dict path: unlisted strata dropped, listed ones sampled at their rate
    part = stratified_sample(docs, "strat", {"s0": 1.0}, id_col="doc_id")
    rows = part.collect()
    assert len(rows) == 1000 and all(r["strat"] == "s0" for r in rows)


def test_pack_documents_budget_and_shard_parallelism(spark):
    from neuronews_spark.operators.text_stats import pack_documents

    docs = spark.createDataFrame(
        [(i, "x" * 400) for i in range(200)],  # 100 est_tokens each
        "doc_id long, text string",
    )
    out = pack_documents(docs, max_tokens=250, n_shards=4).collect()
    assert len(out) == 200
    by_shard_pack: dict = {}
    for r in out:
        by_shard_pack.setdefault((r["shard"], r["pack_id"]), []).append(r)
    # every pack starts under budget (overflow ≤ one document)
    for rows in by_shard_pack.values():
        assert min(x["cum_before"] for x in rows) % 250 < 250
        total = sum(x["est_tokens"] for x in rows)
        assert total <= 250 + 100  # budget + one-document overflow
    # packing is per shard: multiple shards actually used
    assert len({r["shard"] for r in out}) > 1
    # deterministic
    again = {(r["doc_id"], r["pack_id"]) for r in pack_documents(docs, 250, n_shards=4).collect()}
    assert again == {(r["doc_id"], r["pack_id"]) for r in out}


def test_char_entropy_orders_quality(spark):
    from neuronews_spark.operators.text_stats import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaaaaaaaaaaaaaa"), (2, "abcdefghabcdefgh"), (3, "the cat sat on a mat")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert got[1]["entropy"] == 0.0  # constant string
    import math

    assert abs(got[2]["entropy"] - math.log(8)) < 1e-6  # uniform over 8 chars
    assert got[1]["entropy"] < got[2]["entropy"]
    assert got[3]["n_distinct_chars"] > got[1]["n_distinct_chars"]


def test_decontaminate_flags_cross_set_near_dups_only(spark):
    from neuronews_spark.operators.dedup import decontaminate

    base = "the quick brown fox jumps over the lazy dog again and again"
    train = spark.createDataFrame(
        [
            (1, base),                      # contaminates eval id 100
            (2, base + " exactly"),         # near-dup of 1 (train-train: ignored)
            (3, "completely different content about spark shuffles"),
        ],
        "doc_id long, text string",
    )
    eval_ = spark.createDataFrame(
        [
            (100, base),                    # exact contamination
            (101, "novel eval text with no training overlap at all"),
            (102, "completely different content about spark shuffles"),  # = train 3
        ],
        "doc_id long, text string",
    )
    rows = decontaminate(train, eval_, jaccard_threshold=0.9).collect()
    flagged = {(r["eval_id"], r["train_id"]) for r in rows}
    assert (100, 1) in flagged and (100, 2) in flagged
    assert (102, 3) in flagged
    assert all(e >= 100 and t < 100 for e, t in flagged)  # orientation
    assert not any(e == 101 for e, _ in flagged)  # clean eval rows pass


def test_minhash_bucket_verify_matches_pair_materialized_verify(spark):
    """Differential for the bucket-local minhash verify: same pairs+jaccard
    as materializing every within-bucket candidate and set-verifying it in
    the driver (the round-2 plan's semantics)."""
    from neuronews_spark.functions.normalize import minhash_band_keys, token_shingles
    from neuronews_spark.functions.normalize import tokens as ws_tokens
    from neuronews_spark.operators.dedup import minhash_near_duplicates

    rows = []
    base_words = ["alpha beta gamma delta epsilon zeta eta theta iota kappa",
                  "one two three four five six seven eight nine ten"]
    for i in range(20):
        t = base_words[i % 2] + f" tail{i // 4}"  # groups of near-identical docs
        rows.append((i, t))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", jaccard_threshold=0.5
        ).collect()
    }

    # reference: same shingles + band keys via the same Column primitives,
    # candidates materialized per bucket, exact set Jaccard in the driver
    toks = F.transform(ws_tokens(F.col("text")), lambda x: F.lower(x))
    base = docs.select(
        F.col("doc_id").alias("doc"),
        F.array_distinct(token_shingles(F.array_join(toks, " "), n=3)).alias("sh"),
        minhash_band_keys(
            F.array_distinct(token_shingles(F.array_join(toks, " "), n=3)),
            n_hashes=32, bands=8, prefix="d",
        ).alias("keys"),
    ).collect()
    shingles = {r["doc"]: set(r["sh"]) for r in base}
    buckets: dict[str, list[int]] = {}
    for r in base:
        for k in r["keys"]:
            buckets.setdefault(k, []).append(r["doc"])
    expect = {}
    for members in buckets.values():
        for a, b in itertools.combinations(sorted(members), 2):
            sa, sb = shingles[a], shingles[b]
            j = round(len(sa & sb) / len(sa | sb), 6) if sa | sb else 0.0
            if j >= 0.5:
                expect[(a, b)] = j
    assert got == expect and len(expect) >= 20


def test_ner_preprocess_reference_kernel(spark):
    """_preprocess_text parity (ner_processor.py:212-235) including the
    no-period hard-truncation branch the synthetic corpus never hits."""
    import re

    from neuronews_spark.operators.text_stats import ner_preprocess

    def reference(text, max_length=512):  # verbatim reference logic
        text = re.sub(r"\s+", " ", text)
        text = re.sub(r"[^\w\s\.\,\;\:\!\?\-\(\)\"\'\/]", " ", text)
        if len(text) > max_length * 4:
            text = text[: max_length * 4]
            last_period = text.rfind(".")
            if last_period > max_length * 2:
                text = text[: last_period + 1]
        return text.strip()

    cases = [
        "plain  short\t text with * strange @@ chars #1",
        "a" * 3000,  # long, no period → hard cut at 2048
        ("word " * 250 + ". ") * 4,  # long with periods → backoff cut
        "x" * 1500 + "." + "y" * 1500,  # period before the 1024 floor
        "  leading and trailing   ",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, t string")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", ner_preprocess(F.col("t")).alias("c")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == reference(c), f"case {i} diverged"


def test_sentence_chunks_packing(spark):
    from neuronews_spark.operators.text_stats import sentence_chunks

    text = "alpha beta gamma. delta epsilon! zeta? eta theta iota."
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        sentence_chunks(df, max_chars=20).collect(), key=lambda r: r["sent_idx"]
    )
    assert [r["sentence"] for r in rows] == [
        "alpha beta gamma", "delta epsilon", "zeta", "eta theta iota",
    ]
    # cum-before: 0, 16, 29, 33 → floor(/20): 0, 0, 1, 1
    assert [r["chunk_id"] for r in rows] == [0, 0, 1, 1]
    assert [r["est_tokens"] for r in rows] == [4, 4, 1, 4]


def test_kmeans_event_clusters(spark):
    from neuronews_spark.operators.event_clustering import (
        auto_k,
        cluster_summary,
        kmeans_clusters,
    )

    rng = np.random.default_rng(21)
    blob_a = rng.standard_normal((25, 8)) * 0.1 + 5.0
    blob_b = rng.standard_normal((25, 8)) * 0.1 - 5.0
    rows = [(i, blob_a[i].tolist()) for i in range(25)] + [
        (i + 100, blob_b[i].tolist()) for i in range(25)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned = kmeans_clusters(emb, k=2).collect()
    by_cluster = {}
    for r in assigned:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["vec_id"])
    # the two planted blobs must come out as the two clusters
    assert sorted(len(v) for v in by_cluster.values()) == [25, 25]
    assert {frozenset(v) for v in by_cluster.values()} == {
        frozenset(range(25)), frozenset(range(100, 125)),
    }
    summ = {r["cluster_id"]: r for r in cluster_summary(kmeans_clusters(emb, k=2)).collect()}
    assert all(r["n_members"] == 25 and r["avg_dist"] < 1.0 for r in summ.values())
    assert auto_k(emb, candidates=(2, 4, 8)) == 2


def test_dedup_near_duplicates_drops_losers(spark):
    from neuronews_spark.operators.dedup import (
        dedup_near_duplicates,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),   # dup of 1
            (3, "alpha beta gamma delta zeta"),      # near-dup of 1/2
            (4, "totally different words here now"),
            (5, "another unrelated document text"),
        ],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(docs, n=1, threshold=0.6)
    kept = sorted(r["doc_id"] for r in dedup_near_duplicates(docs, pairs).collect())
    # cluster {1,2,3} keeps min id 1; singletons 4, 5 survive
    assert kept == [1, 4, 5]


def test_decontaminate_handles_id_overlap_across_sides(spark):
    """An id present on BOTH sides used to fan out through the side-map
    join (duplicated/mislabeled pairs); the internal per-side prefix now
    reports it as what it is — self-contamination at jaccard 1.0."""
    from neuronews_spark.operators.dedup import decontaminate

    base = "the quick brown fox jumps over the lazy dog again and again"
    train = spark.createDataFrame([(7, base)], "doc_id long, text string")
    eval_ = spark.createDataFrame(
        [(7, base), (8, "unrelated fresh words nothing shared here today")],
        "doc_id long, text string",
    )
    out = decontaminate(train, eval_, jaccard_threshold=0.9)
    rows = {(r["eval_id"], r["train_id"], r["jaccard"]) for r in out.collect()}
    assert rows == {(7, 7, 1.0)}
    # id dtype survives the internal string-prefix round trip
    assert dict(out.dtypes)["eval_id"] == "bigint"
    assert dict(out.dtypes)["train_id"] == "bigint"


def test_char_entropy_kernel_matches_explode_form(spark):
    """Differential: the round-4 per-row Arrow kernel vs the original
    explode+groupBy plan (still the DuckDB mirror's shape) — byte-equal
    output on real corpus text plus unicode/empty edge cases."""
    from pyspark.sql import functions as F2
    from neuronews_spark.operators.text_stats import char_entropy

    def explode_form(df, id_col="doc_id", text_col="text"):
        chars = F2.explode(F2.split(F2.col(text_col), "")).alias("ch")
        counts = (
            df.select(F2.col(id_col).alias("id"), chars)
            .filter(F2.col("ch") != "")
            .groupBy("id", "ch")
            .agg(F2.count(F2.lit(1)).alias("cnt"))
        )
        per_doc = counts.groupBy("id").agg(
            F2.sum("cnt").alias("n_chars"),
            F2.count(F2.lit(1)).alias("n_distinct_chars"),
            F2.array_sort(F2.collect_list(F2.struct("ch", "cnt"))).alias("dist"),
        )
        n = F2.col("n_chars").cast("double")
        ent = F2.aggregate(
            F2.col("dist"),
            F2.lit(0.0),
            lambda acc, s: acc - (s["cnt"] / n) * F2.log(s["cnt"] / n),
        )
        return per_doc.select(
            F2.col("id").alias(id_col),
            "n_chars",
            "n_distinct_chars",
            F2.round(ent, 6).alias("entropy"),
        )

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extra = spark.createDataFrame(
        [
            (90001, "aaaa"),
            (90002, "abcdefgh"),
            (90003, "héllo wörld ünïcode ééé"),
            (90004, ""),            # dropped by both forms
            (90005, None),          # dropped by both forms
        ],
        "doc_id long, text string",
    )
    docs = corpus.select("doc_id", "text").unionByName(extra)
    new = {r["doc_id"]: tuple(r) for r in char_entropy(docs).collect()}
    old = {r["doc_id"]: tuple(r) for r in explode_form(docs).collect()}
    assert new == old
    assert 90004 not in new and 90005 not in new
    # and the new plan has no per-char fan-out: no Generate/explode node
    plan = char_entropy(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan


def test_repetition_stats_hand_computed(spark):
    """Gopher repetition filters vs hand-worked values."""
    from neuronews_spark.operators.text_stats import repetition_stats

    rows = [
        # 4 lines: "ab" ×3 (dup_extra=2), "cd" ×1 → dup_line_frac=2/4;
        # dup chars = 2·2=4 over total line chars 8 → 0.5;
        # tokens: ab ab ab cd → bigrams: "ab ab"×2, "ab cd"×1; top =
        # "ab ab" (5 chars) ×2 = 10 / len(text)=11 → 0.909091
        (1, "ab\nab\nab\ncd"),
        # all-unique lines and bigrams: dups 0; top bigram "aa bb"
        # (count 1, lexicographically smallest) 5/11
        (2, "aa bb\ncc dd"),
        # single token: no bigrams → 0.0; one line
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["n_lines"] == 4
    assert got[1]["dup_line_frac"] == 0.5
    assert got[1]["dup_line_char_frac"] == 0.5
    assert got[1]["top_bigram_char_frac"] == round(10 / 11, 6)
    assert got[2]["n_lines"] == 2
    assert got[2]["dup_line_frac"] == 0.0
    assert got[2]["dup_line_char_frac"] == 0.0
    assert got[2]["top_bigram_char_frac"] == round(5 / 11, 6)
    assert got[3]["n_lines"] == 1
    assert got[3]["top_bigram_char_frac"] == 0.0
    # empty/null text rows are dropped, as in char_entropy
    empties = spark.createDataFrame(
        [(4, ""), (5, None)], "doc_id long, text string"
    )
    assert repetition_stats(empties).count() == 0


def test_dedup_lines_across_corpus(spark):
    """First occurrence (min doc_id, idx) wins corpus-wide; documents
    reassemble in original order; fully-deduped docs keep an empty text."""
    from neuronews_spark.operators.dedup import dedup_lines_across_corpus

    rows = [
        (1, "header\nbody one\nfooter"),
        (2, "header\nbody two\nfooter"),   # header+footer dropped
        (3, "header\nfooter"),             # everything dropped
        (4, "body one\nunique"),           # body one dropped (doc1 idx1 wins)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_lines_across_corpus(df).collect()}
    assert got[1]["text"] == "header\nbody one\nfooter"
    assert (got[1]["n_lines_kept"], got[1]["n_lines_dropped"]) == (3, 0)
    assert got[2]["text"] == "body two"
    assert (got[2]["n_lines_kept"], got[2]["n_lines_dropped"]) == (1, 2)
    assert got[3]["text"] == ""
    assert (got[3]["n_lines_kept"], got[3]["n_lines_dropped"]) == (0, 2)
    assert got[4]["text"] == "unique"
    # duplicate line within ONE doc also keeps only the first occurrence
    intra = spark.createDataFrame(
        [(9, "x\ny\nx\nz")], "doc_id long, text string"
    )
    r = dedup_lines_across_corpus(intra).collect()[0]
    assert r["text"] == "x\ny\nz" and r["n_lines_dropped"] == 1


def test_dup_ngram_coverage_planted(spark):
    """Planted shared 5-gram across two docs; coverage = union of spans."""
    from neuronews_spark.operators.dedup import dup_ngram_coverage

    shared = "one two three four five"
    rows = [
        (1, shared + " alpha beta gamma"),       # tokens 0-4 covered → 5/8
        (2, "x y " + shared + " z"),             # tokens 2-6 covered → 5/8
        (3, "totally different words here now p q r"),
        (4, "short text"),                       # < n tokens → no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dup_ngram_coverage(df, n=5).collect()}
    assert got[1]["n_dup_grams"] == 1 and got[1]["covered_tokens"] == 5
    assert got[1]["dup_coverage"] == 0.625
    assert got[2]["covered_tokens"] == 5 and got[2]["dup_coverage"] == 0.625
    assert got[3]["n_dup_grams"] == 0 and got[3]["dup_coverage"] == 0.0
    assert got[4]["n_tokens"] == 2 and got[4]["dup_coverage"] == 0.0
    # overlapping dup grams union, not double-count: doc with the 5-gram
    # twice ("one..five one..five") duplicates every window against doc 1
    twice = spark.createDataFrame(
        [(1, shared), (2, shared + " " + shared)], "doc_id long, text string"
    )
    got2 = {r["doc_id"]: r for r in dup_ngram_coverage(twice, n=5).collect()}
    assert got2[2]["covered_tokens"] == 10  # full union, no double count
    assert got2[2]["dup_coverage"] == 1.0


def test_embedding_cosine_pairs_all_pairs_chunked(spark):
    """block_col=None must spread the quadratic matmul over chunk-pair
    groups (never one giant group) while emitting every qualifying pair
    exactly once — compared against a full numpy brute force."""
    from neuronews_spark.operators.dedup import embedding_cosine_pairs

    rng = np.random.default_rng(5)
    base = rng.standard_normal((15, 8))
    noisy = base + 0.03 * rng.standard_normal((15, 8))
    rows = [(i, base[i].tolist()) for i in range(15)] + [
        (i + 100, noisy[i].tolist()) for i in range(15)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in embedding_cosine_pairs(
            emb, block_col=None, threshold=0.9, all_pairs_chunks=4
        ).collect()
    }
    expect = {}
    v = {r[0]: np.asarray(r[1], dtype=np.float64) for r in rows}
    for a in v:
        for b in v:
            if a < b:
                sim = round(
                    float(
                        v[a] @ v[b]
                        / (np.linalg.norm(v[a]) * np.linalg.norm(v[b]))
                    ),
                    6,
                )
                if sim >= 0.9:
                    expect[(a, b)] = sim
    assert set(got) == set(expect) and len(got) >= 15
    # chunking must not change sims either (same per-row normalization)
    one = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in embedding_cosine_pairs(
            emb, block_col=None, threshold=0.9, all_pairs_chunks=1
        ).collect()
    }
    assert got == one


def test_decontaminate_heterogeneous_id_types(spark):
    """train ids long, eval ids string: each output column must carry its
    OWN side's id type — casting eval ids to long would NULL them."""
    from neuronews_spark.operators.dedup import decontaminate

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = spark.createDataFrame(
        [(101, text), (102, "completely different words entirely here now")],
        "doc_id long, text string",
    )
    eval_ = spark.createDataFrame(
        [("hellaswag-17", text), ("mmlu-3", "nothing like the train rows")],
        "doc_id string, text string",
    )
    rows = decontaminate(train, eval_, jaccard_threshold=0.8).collect()
    assert rows, "planted contamination not detected"
    assert {r["eval_id"] for r in rows} == {"hellaswag-17"}
    assert {r["train_id"] for r in rows} == {101}
    schema = {f.name: f.dataType.simpleString() for f in decontaminate(
        train, eval_
    ).schema.fields}
    assert schema["eval_id"] == "string" and schema["train_id"] == "bigint"


def test_repetition_stats_ascii_whitespace(spark):
    """NBSP is NOT a token separator or trimmable char (ASCII \\s+ parity
    with the Java/RE2 mirrors) — Python's Unicode split would differ."""
    from neuronews_spark.operators.text_stats import repetition_stats

    text = "x y x y z"  # 9 chars; ASCII tokens: [x y, x y, z]
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = repetition_stats(df).collect()[0]
    assert r["n_lines"] == 1 and r["dup_line_frac"] == 0.0
    # bigrams: "x y x y" (smaller, len 7) and "x y z" — tie at
    # count 1 broken lexicographically; Unicode split would instead find
    # "x y" twice and report 3/9
    assert r["top_bigram_char_frac"] == round(7 / 9, 6)


def test_ngram_decontaminate_planted(spark):
    """A verbatim 13-token span quoted inside an otherwise-different eval
    doc must flag (the case whole-doc Jaccard dilutes away); short docs
    fall back to one whole-sequence gram; empty docs score clean."""
    from neuronews_spark.operators.dedup import ngram_decontaminate

    span = " ".join(f"w{i}" for i in range(13))  # 13 tokens
    train = spark.createDataFrame(
        [
            (1, span + " plus unrelated trailing training prose here"),
            (2, "tiny doc"),  # short: whole-sequence gram
        ],
        "doc_id long, text string",
    )
    filler_a = " ".join(f"a{i}" for i in range(20))
    filler_b = " ".join(f"b{i}" for i in range(20))
    eval_ = spark.createDataFrame(
        [
            # 53 tokens, 41 grams, exactly one dirty (the quoted span)
            (10, filler_a + " " + span + " " + filler_b),
            (11, "tiny doc"),  # short-gram exact hit
            (12, "tiny document"),  # short but different → clean
            (13, " ".join(f"c{i}" for i in range(30))),  # long, clean
            (14, ""),  # empty → (0, 0, 0.0, false)
        ],
        "doc_id long, text string",
    )
    got = {
        r["eval_id"]: r
        for r in ngram_decontaminate(train, eval_, n=13).collect()
    }
    assert set(got) == {10, 11, 12, 13, 14}
    assert got[10]["n_grams"] == 41 and got[10]["n_dirty_grams"] == 1
    assert got[10]["contaminated"] is True
    assert got[10]["dirty_frac"] == round(1 / 41, 6)
    assert got[11]["n_grams"] == 1 and got[11]["contaminated"] is True
    assert got[12]["contaminated"] is False
    assert got[13]["n_grams"] == 18 and got[13]["n_dirty_grams"] == 0
    assert got[14]["n_grams"] == 0 and got[14]["dirty_frac"] == 0.0
    assert got[14]["contaminated"] is False


def test_clean_corpus_hand_rows(spark):
    """Each gate isolated on a crafted doc; NULL/empty docs surface as
    keep=false rows instead of disappearing."""
    from neuronews_spark.operators.text_stats import clean_corpus

    good = (
        "the report said that it was a good day for the market and "
        "investors were pleased with results overall today"
    )  # 19 alpha tokens, stopword-rich → passes everything
    short = "the tiny doc is here"  # 5 tokens < 15
    junk = " ".join(["123456789012!!!"] * 20)  # no alpha, no stopwords
    repet = "spam ham " * 60  # top bigram dominates the text
    rows = [(1, good), (2, short), (3, junk), (4, repet.strip()), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in clean_corpus(
            df, min_tokens=15, min_quality_score=0.7
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1]["keep"] is True and got[1]["pass_repetition"] is True
    assert got[2]["pass_length"] is False and got[2]["keep"] is False
    assert got[3]["pass_quality"] is False and got[3]["keep"] is False
    assert got[4]["pass_repetition"] is False and got[4]["keep"] is False
    assert got[4]["top_bigram_char_frac"] > 0.2
    assert got[5]["n_tokens"] == 0 and got[5]["keep"] is False
    # flags must be consistent with the emitted fractions/score
    for r in got.values():
        assert r["keep"] == (
            r["pass_length"] and r["pass_quality"] and r["pass_repetition"]
        )


def test_remove_duplicate_spans_planted(spark):
    """First occurrence of a corpus-duplicated 13-gram survives verbatim;
    every other occurrence's tokens are deleted (unless protected by a
    keeper span in the same doc); short docs pass through unchanged."""
    import hashlib

    from neuronews_spark.operators.dedup import remove_duplicate_spans

    span = [f"s{i}" for i in range(13)]
    fill_a = [f"a{i}" for i in range(5)]
    fill_b = [f"b{i}" for i in range(5)]
    fill_c = [f"c{i}" for i in range(5)]
    rows = [
        (1, " ".join(span + fill_a)),            # keeper (min doc, pos 0)
        (2, " ".join(fill_b + span + fill_c)),   # loser at pos 5
        (4, " ".join(span + ["x"] + span)),      # two losers, x survives
        (5, "short doc under thirteen tokens"),  # < n → unchanged
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r for r in remove_duplicate_spans(df, n=13).collect()
    }
    md5 = lambda toks: hashlib.md5(" ".join(toks).encode()).hexdigest()
    assert got[1]["n_removed"] == 0
    assert got[1]["text_md5"] == md5(span + fill_a)
    assert got[2]["n_removed"] == 13
    assert got[2]["text_md5"] == md5(fill_b + fill_c)
    assert got[4]["n_removed"] == 26
    assert got[4]["text_md5"] == md5(["x"])
    assert got[5]["n_removed"] == 0
    assert got[5]["text_md5"] == md5(["short", "doc", "under", "thirteen", "tokens"])
    # conservation: n_tokens is pre-removal
    assert got[4]["n_tokens"] == 27 and got[2]["n_tokens"] == 23


def test_srp_lsh_near_dups_empty_input(spark):
    """Empty input flows through the pandas-UDF path (the driver-side dim
    probe and its explicit empty-return branch were removed): result is
    empty with the (id_a, id_b, sim) schema and the input's id type."""
    from neuronews_spark.operators.dedup import srp_lsh_near_dups

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = srp_lsh_near_dups(df, "vec_id", "embedding", threshold=0.9)
    assert out.columns == ["id_a", "id_b", "sim"]
    assert dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)[
        "id_a"
    ] == "bigint"
    assert out.count() == 0


def test_decontaminate_caps_hot_train_buckets(spark):
    """The asymmetric topology counts TRAIN docs per band bucket for the
    skew cap: a boilerplate bucket wider than max_bucket proposes no
    candidates, so its eval twin goes unreported (recall loss by cap,
    exactly like minhash_near_duplicates), while a small bucket still
    reports its cross pair."""
    from neuronews_spark.operators.dedup import decontaminate

    hot = "alpha beta gamma delta epsilon zeta eta theta"
    cold = "one two three four five six seven eight nine"
    train = spark.createDataFrame(
        [(i, hot) for i in range(8)] + [(100, cold)],
        "doc_id long, text string",
    )
    eval_ = spark.createDataFrame(
        [(1000, hot), (1001, cold)], "doc_id long, text string"
    )
    got = {
        (r["eval_id"], r["train_id"])
        for r in decontaminate(
            train, eval_, jaccard_threshold=0.9, max_bucket=4
        ).collect()
    }
    assert got == {(1001, 100)}  # hot bucket (8 > 4) dropped entirely
    uncapped = {
        r["eval_id"]
        for r in decontaminate(
            train, eval_, jaccard_threshold=0.9, max_bucket=500
        ).collect()
    }
    assert uncapped == {1000, 1001}
