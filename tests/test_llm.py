"""LLM-pipeline operator tests (SURVEY.md §2.12)."""

import pytest
from pyspark.sql import functions as F

from fefal_etl_spark.llm.dedup import (
    exact_dup_groups,
    hamming_distance,
    md5_hash64,
    minhash_lsh_neardup,
    simhash,
)
from fefal_etl_spark.llm.multimodal import attach_media_column, extract_features
from fefal_etl_spark.llm.similarity import cosine_topk, lsh_bucketed_pairs
from fefal_etl_spark.llm.text_analysis import language_id, quality_features


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near-dup of 1
        (3, "completely different content about spark query engines and shuffles"),
        (4, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(spark, corpus):
    groups = exact_dup_groups(corpus, "doc_id", "text")
    by_keeper = {r["keeper_id"]: r["n_copies"] for r in groups.collect()}
    assert by_keeper[1] == 2  # docs 1 and 4
    assert by_keeper[2] == 1 and by_keeper[3] == 1


def test_minhash_finds_planted_neardups(spark, corpus):
    pairs = minhash_lsh_neardup(
        corpus, "doc_id", "text", num_hashes=16, rows_per_band=4, threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 4) in got  # exact dup always caught (jaccard 1.0)
    assert (1, 2) in got and (2, 4) in got  # near-dups
    assert all(3 not in p for p in got)  # unrelated doc never paired
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert j[(1, 4)] == 1.0
    assert 0.5 <= j[(1, 2)] < 1.0


def test_simhash_properties(spark, corpus):
    fp = {r["doc_id"]: r["simhash"] for r in simhash(corpus, "doc_id", "text").collect()}
    assert fp[1] == fp[4]  # identical text → identical fingerprint
    df = spark.createDataFrame(
        [(fp[1], fp[2]), (fp[1], fp[3])], "a long, b long"
    )
    d = df.select(hamming_distance(F.col("a"), F.col("b")).alias("d")).collect()
    near, far = d[0]["d"], d[1]["d"]
    assert near < far  # near-dup closer than unrelated doc
    assert 0 <= near and far <= 60


def test_md5_hash64_range_and_determinism(spark):
    df = spark.createDataFrame([("abc",), ("def",), ("abc",)], "s string")
    vals = [r["h"] for r in df.select(md5_hash64(F.col("s")).alias("h")).collect()]
    assert vals[0] == vals[2] != vals[1]
    assert all(0 <= v < 2**60 for v in vals)


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.8, 0.2, 0.0, 0.0]),   # close-ish to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_ordering(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(vectors, q, k=4).orderBy("rk").collect()
    assert [r["vec_id"] for r in out] == [1, 4, 2, 3]
    assert out[0]["cos_sim"] > 0.99
    assert abs(out[2]["cos_sim"]) < 1e-12  # orthogonal
    assert out[3]["cos_sim"] == pytest.approx(-1.0)
    assert all(r["vec_id"] != 0 for r in out)  # self excluded


def test_lsh_bucketed_pairs(spark, vectors):
    pairs = lsh_bucketed_pairs(
        vectors, dims=(1, 2), threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # 0,1,4 share sign bucket (+,+ ~ [1]>=0,[2]>=0) and are similar
    assert (0, 1) in got and (0, 4) in got and (1, 4) in got
    assert all(3 not in p for p in got)  # negative-x vector in another bucket


def test_language_id(spark):
    rows = [
        (1, "the cat and the dog is in the house"),
        (2, "der hund und die katze ist nicht da"),
        (3, "el perro y la casa que es grande"),
        (4, "zzz qqq www"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["p"] for r in
           df.select("doc_id", language_id(F.col("text")).alias("p")).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "und"}


def test_quality_features_edges(spark):
    df = spark.createDataFrame([(1, ""), (2, "one two, three!")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_features(df, "text").collect()}
    assert out[1]["n_words"] == 0 and out[1]["stopword_ratio"] == 0.0
    assert out[2]["n_words"] == 3
    assert out[2]["n_tokens"] == 5  # one/two/,/three/!
    assert out[2]["punct_ratio"] > 0


def test_multimodal_features_roundtrip(spark):
    import hashlib

    df = spark.createDataFrame([(1, "hello"), (2, "wörld")], "doc_id long, text string")
    media = attach_media_column(df, "doc_id", "text")
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["n_bytes"] == 5
    assert feats[2]["n_bytes"] == 6  # ö is 2 bytes in UTF-8
    assert feats[1]["payload_md5"] == hashlib.md5(b"hello").hexdigest()
    assert feats[1]["first_byte"] == ord("h")


def test_multimodal_decode_rejects_non_image(spark):
    # decode_stub=False is a REAL decoder now; a non-image payload must
    # fail loudly at the codec boundary, not be silently summarized
    df = spark.createDataFrame([(1, "not an image")], "doc_id long, text string")
    media = attach_media_column(df, "doc_id", "text")
    with pytest.raises(Exception, match="unrecognized image magic"):
        extract_features(media, decode_stub=False).collect()


def test_multimodal_real_decode_bmp_and_ppm(spark):
    import numpy as np

    from fefal_etl_spark.llm.media_codecs import synth_image_array
    from fefal_etl_spark.llm.multimodal import attach_synth_images

    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    for fmt in ("bmp", "ppm"):
        media = attach_synth_images(ids, "doc_id", fmt=fmt)
        feats = {
            r["media_id"]: r
            for r in extract_features(media, decode_stub=False).collect()
        }
        for i in range(1, 8):
            w, h = 2 + i % 7, 2 + i % 5
            arr = synth_image_array(i, w, h)
            assert feats[i]["width"] == w and feats[i]["height"] == h
            assert feats[i]["channels"] == 3
            assert feats[i]["pixel_sum"] == int(np.sum(arr, dtype="int64"))


def test_wav_codec_roundtrip_and_chunk_walk():
    import numpy as np

    from fefal_etl_spark.llm.media_codecs import (
        decode_wav,
        encode_wav,
        synth_audio_array,
    )

    for seed, n in [(0, 1), (3, 64), (11, 161), (42, 100)]:
        s = synth_audio_array(seed, n)
        out, rate = decode_wav(encode_wav(s, 8000))
        assert rate == 8000
        assert np.array_equal(out, s)
    # spec tolerance: an extra LIST chunk between fmt and data must be
    # skipped by the chunk walker, not break the parse
    s = synth_audio_array(7, 50)
    b = encode_wav(s)
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    patched = b[:36] + extra + b[36:]
    patched = b"RIFF" + (len(patched) - 8).to_bytes(4, "little") + patched[8:]
    out, _ = decode_wav(patched)
    assert np.array_equal(out, s)
    # loud failure on unsupported shapes
    stereoish = bytearray(encode_wav(s))
    stereoish[22:24] = (2).to_bytes(2, "little")  # channels = 2
    with pytest.raises(ValueError, match="mono 16-bit PCM"):
        decode_wav(bytes(stereoish))


def test_audio_frame_features_match_closed_form(spark):
    import numpy as np

    from fefal_etl_spark.llm.media_codecs import synth_audio_array
    from fefal_etl_spark.llm.multimodal import attach_synth_audio, audio_frame_features

    ids = spark.createDataFrame([(i,) for i in (0, 1, 33, 96)], "doc_id long")
    media = attach_synth_audio(ids, "doc_id")
    rows = audio_frame_features(media, frame_len=32).collect()
    by_key = {(r["media_id"], r["frame_id"]): r for r in rows}
    for i in (0, 1, 33, 96):
        s = synth_audio_array(i, 64 + i % 97).astype(np.int64)
        n_frames = (len(s) + 31) // 32
        assert sum(1 for k in by_key if k[0] == i) == n_frames
        for f in range(n_frames):
            chunk = s[f * 32 : (f + 1) * 32]
            r = by_key[(i, f)]
            assert r["n_samples"] == len(chunk)
            assert r["energy"] == int((chunk * chunk).sum())
            assert r["peak"] == int(np.abs(chunk).max())


def test_media_codec_roundtrips():
    import numpy as np

    from fefal_etl_spark.llm.media_codecs import (
        decode_bmp,
        decode_image,
        decode_ppm,
        encode_bmp,
        encode_ppm,
        resize_nearest,
        synth_image_array,
    )

    for w, h in [(1, 1), (2, 3), (5, 4), (7, 2), (8, 5)]:
        a = synth_image_array(12345, w, h)
        assert np.array_equal(decode_bmp(encode_bmp(a)), a)  # stride padding
        assert np.array_equal(decode_ppm(encode_ppm(a)), a)
        assert np.array_equal(decode_image(encode_bmp(a)), a)
    # PPM header comments per Netpbm spec
    p = b"P6\n# a comment\n 3 2\n255\n" + bytes(range(18))
    assert decode_ppm(p).shape == (2, 3, 3)
    # top-down BMP (negative height) decodes to the same image
    bottom_up = bytearray(encode_bmp(synth_image_array(7, 3, 2)))
    flipped = decode_bmp(bytes(bottom_up))
    neg_h = bytearray(bottom_up)
    neg_h[22:26] = (-2).to_bytes(4, "little", signed=True)
    raw = np.frombuffer(bottom_up[54:], dtype=np.uint8).reshape(2, 12)
    neg_h[54:] = np.ascontiguousarray(raw[::-1]).tobytes()
    assert np.array_equal(decode_bmp(bytes(neg_h)), flipped)
    # nearest-neighbor mapping is the documented floor formula
    a = synth_image_array(99, 7, 5)
    r = resize_nearest(a, 4, 3)
    for yi in range(3):
        for xi in range(4):
            assert (r[yi, xi] == a[yi * 5 // 3, xi * 7 // 4]).all()


def test_winnow_fingerprints_overlap_guarantee(spark):
    from fefal_etl_spark.llm.text_analysis import winnow_fingerprints

    # k=3, window=4 → any shared run of window+k-1 = 6 words must share a fp.
    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"{shared} nine ten eleven twelve"),
            (3, "completely different words entirely here now"),
            (4, "short doc"),  # < k words → no rows
            (5, "tiny three words"),  # 1 k-gram < window → exactly 1 fp
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(df, "doc_id", "text", k=3, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc
    assert len(by_doc[5]) == 1
    # deterministic across invocations
    again = {}
    for r in winnow_fingerprints(df, "doc_id", "text", k=3, window=4).collect():
        again.setdefault(r["doc_id"], set()).add(r["fp"])
    assert again == by_doc


def test_sampling_determinism_and_split(spark):
    from fefal_etl_spark.llm.sampling import (
        deterministic_sample,
        train_test_split,
    )

    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    s1 = {r["id"] for r in deterministic_sample(df, "id", 0.3).collect()}
    # same sample after an arbitrary repartition (membership is key-pure)
    s2 = {
        r["id"]
        for r in deterministic_sample(df.repartition(7), "id", 0.3).collect()
    }
    assert s1 == s2
    assert 0.25 < len(s1) / 2000 < 0.35
    # different salt → a fresh, decorrelated sample
    s3 = {r["id"] for r in deterministic_sample(df, "id", 0.3, salt="x").collect()}
    assert s3 != s1
    # split partitions exactly, no leaks
    train, test = train_test_split(df, "id", test_fraction=0.2)
    tr = {r["id"] for r in train.collect()}
    te = {r["id"] for r in test.collect()}
    assert tr | te == {r["id"] for r in df.collect()}
    assert not (tr & te)


def test_repetition_features(spark):
    from fefal_etl_spark.llm.text_analysis import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a b c\na b c\nx y z\na b c"),  # 4 lines, 2 distinct
            (2, "spam spam spam spam ham"),  # top word 4/5
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert got[1]["n_lines"] == 4
    assert got[1]["dup_line_frac"] == pytest.approx(0.5)
    assert got[2]["top_word_frac"] == pytest.approx(0.8)
    assert got[2]["dup_line_frac"] == 0.0


def test_resize_payload_stub(spark):
    from fefal_etl_spark.llm.multimodal import attach_media_column, resize_payload

    df = spark.createDataFrame(
        [(1, "x" * 100), (2, "ab"), (3, "")], "doc_id long, text string"
    )
    media = attach_media_column(df, "doc_id", "text")
    out = resize_payload(media, target_bytes=16)
    rows = {r["media_id"]: r for r in out.collect()}
    assert bytes(rows[1]["payload"]) == b"x" * 16  # truncate
    assert bytes(rows[2]["payload"]) == b"ab" * 8  # cycle-pad
    assert rows[1]["meta"]["n_bytes"] == 16
    assert rows[3]["payload"] in (None, bytearray(b""), b"")  # empty passthrough
    # schema round-trips: output is still media-shaped (modulo nullability)
    assert out.schema.simpleString() == media.schema.simpleString()
    with pytest.raises(Exception, match="unrecognized image magic"):
        resize_payload(media, decode_stub=False).collect()


def test_resize_payload_real_decode(spark):
    import numpy as np

    from fefal_etl_spark.llm.media_codecs import resize_nearest, synth_image_array
    from fefal_etl_spark.llm.multimodal import (
        attach_synth_images,
        extract_features,
        resize_payload,
    )

    ids = spark.createDataFrame([(3,), (11,)], "doc_id long")
    media = attach_synth_images(ids, "doc_id", fmt="ppm")
    resized = resize_payload(media, decode_stub=False, target_px=(4, 3))
    feats = {
        r["media_id"]: r
        for r in extract_features(resized, decode_stub=False).collect()
    }
    for i in (3, 11):
        src = synth_image_array(i, 2 + i % 7, 2 + i % 5)
        want = resize_nearest(src, 4, 3)
        assert feats[i]["width"] == 4 and feats[i]["height"] == 3
        assert feats[i]["pixel_sum"] == int(np.sum(want, dtype="int64"))


def test_gaussian_lsh_recall_fixture_corpus(spark):
    """Recall hardening gate (VERDICT r1 item 8): seeded-Gaussian multi-table
    OR-construction must recover ≥ 0.9 of the exact cos ≥ 0.9 pairs on the
    fixture corpus, with zero false positives (verified candidates only)."""
    from fefal_etl_spark.llm.similarity import (
        dot,
        gaussian_lsh_pairs,
        l2_norm,
    )

    from fefal_etl_spark.llm.queries import _emb_corpus

    corpus = _emb_corpus(spark, "/root/testdata/sf0.001")
    e = corpus.withColumn("n", l2_norm(F.col("v")))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    truth = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")) >= 0.9)
        .collect()
    }
    found = {
        (r["id_a"], r["id_b"])
        for r in gaussian_lsh_pairs(corpus, vec_col="v", threshold=0.9).collect()
    }
    assert truth, "fixture corpus must contain true near-neighbor pairs"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f} < 0.9 ({len(truth)} true pairs)"
    assert found <= truth  # exact-verify stage: no false positives


def test_scrub_pii_redacts_and_counts(spark):
    from fefal_etl_spark.llm.curation import scrub_pii

    rows = [
        (1, "write to alice.smith+x@mail.example.org or call +351 912 345 678 ok"),
        (2, "no pii here at all"),
        (3, "two mails a@b.io and c.d@e-f.com plus +1 555 0100 99"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_pii(df, "text").collect()}
    assert out[1]["n_pii"] == 2
    assert "<EMAIL>" in out[1]["text_scrubbed"]
    assert "<PHONE>" in out[1]["text_scrubbed"]
    assert "alice" not in out[1]["text_scrubbed"]
    assert out[2]["n_pii"] == 0
    assert out[2]["text_scrubbed"] == "no pii here at all"
    assert out[3]["n_pii"] == 3
    assert out[3]["text_scrubbed"].count("<EMAIL>") == 2


def test_tfidf_top_terms_ranks_distinctive_words(spark):
    from fefal_etl_spark.llm.text_analysis import tfidf_top_terms

    rows = [
        (1, "common common common zebra zebra unique"),
        (2, "common common something else entirely"),
        (3, "common words only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(df, top_n=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 'common' appears in every doc -> idf = ln(1) = 0 -> never a top term
    # ahead of any distinctive word
    top1 = {d: rs[0]["term"] for d, rs in by_doc.items()}
    assert top1[1] == "zebra"  # tf=2, df=1 beats unique tf=1
    assert all(len(rs) == 2 for rs in by_doc.values())
    for rs in by_doc.values():
        assert [r["rk"] for r in rs] == [1, 2]


def test_semdedup_finds_planted_cluster_pairs(spark):
    from fefal_etl_spark.llm.similarity import semdedup_pairs

    # two tight clusters far apart + one planted near-dup inside each
    base = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.1, 0.9, 0.0]),
        (10, [1.0, 0.001, 0.0, 0.0]),   # near-dup of 0
        (11, [0.0, 0.001, 1.0, 0.0]),   # near-dup of 2
    ]
    df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    pairs = semdedup_pairs(df, k=2, iters=2, threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 10) in got
    assert (2, 11) in got
    # nothing across clusters
    for a, b in got:
        assert {a, b} <= {0, 1, 10} or {a, b} <= {2, 3, 11}


def test_decontaminate_flags_only_overlapping_docs(spark):
    from fefal_etl_spark.llm.curation import decontaminate

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "totally unrelated words that share nothing with the benchmark"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota lambda")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_overlap"] for r in decontaminate(train, eval_df, n=8).collect()}
    # doc 1 shares exactly the 8-grams at positions 1..2 (words 1-8, 2-9);
    # position 3 differs (kappa vs lambda)
    assert out == {1: 2}


def test_chunk_documents_overlap_and_tail(spark):
    from fefal_etl_spark.llm.text_analysis import chunk_documents

    words = " ".join(f"w{i}" for i in range(1, 96))  # 95 words
    df = spark.createDataFrame([(1, words), (2, ""), (3, "solo")],
                               "doc_id long, text string")
    out = chunk_documents(df, chunk_words=50, stride=40).collect()
    by = {}
    for r in out:
        by.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by[1], key=lambda r: r["chunk_pos"])
    # starts at 1, 41, 81: full, full(55->50? no: 41..90), tail 81..95
    assert [r["chunk_pos"] for r in c1] == [1, 41, 81]
    assert [r["n_words"] for r in c1] == [50, 50, 15]
    # overlap: chunk2 starts inside chunk1
    assert c1[0]["chunk"].split()[40:] == c1[1]["chunk"].split()[:10]
    assert 2 not in by          # empty text -> no chunks
    assert by[3][0]["chunk"] == "solo" and by[3][0]["n_words"] == 1


def test_pack_sequences_bins_and_offsets(spark):
    from fefal_etl_spark.llm.sampling import pack_sequences

    df = spark.createDataFrame(
        [(0, 100), (32, 50), (64, 80), (1, 200)],  # shards: 0,0,0,1
        "doc_id long, n_tokens long",
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, budget=128, num_shards=32).collect()}
    # shard 0 stream: doc0 starts at 0 (bin 0), doc32 at 100 (bin 0,
    # offset 100), doc64 at 150 (bin 1, offset 22)
    assert (out[0]["bin_id"], out[0]["bin_offset"]) == (0, 0)
    assert (out[32]["bin_id"], out[32]["bin_offset"]) == (0, 100)
    assert (out[64]["bin_id"], out[64]["bin_offset"]) == (1, 22)
    # shard 1 independent stream
    assert (out[1]["shard"], out[1]["bin_id"], out[1]["bin_offset"]) == (1, 0, 0)


def test_shingles_short_docs_no_crash(spark):
    """Docs shorter than n words must yield zero shingles, not a crash:
    Spark's sequence(1, 0) is the descending [1, 0], so the unguarded
    gram-start construction emitted index 0 (review finding, round 3)."""
    from fefal_etl_spark.llm.curation import decontaminate
    from fefal_etl_spark.llm.dedup import shingles

    df = spark.createDataFrame(
        [(1, "only three words"), (2, ""), (3, "a b c d e f g h exactly")],
        "doc_id long, text string",
    )
    out = shingles(df, "doc_id", "text", n=8).collect()
    assert {r["doc_id"] for r in out} == {3}  # 9 words -> 2 shingles
    assert len(out) == 2
    # end-to-end: decontaminate with short docs on either side survives
    flagged = decontaminate(df, df.limit(1), n=8).collect()
    assert flagged == []


def test_covariance_and_pca_project_match_numpy(spark):
    """Distributed covariance must equal numpy's biased covariance on the
    same rows, and the driver-eig + broadcast-projection PCA must
    reproduce numpy's PCA up to the fixed sign convention."""
    import numpy as np

    from fefal_etl_spark.llm.similarity import covariance_matrix, pca_project

    rng = np.random.default_rng(7)
    t = rng.standard_normal(60)
    X = np.stack(
        [t, 2 * t + 0.01 * rng.standard_normal(60),
         0.05 * rng.standard_normal(60), 0.05 * rng.standard_normal(60)],
        axis=1,
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    got = {(r["i"], r["j"]): r["cov"] for r in covariance_matrix(df).collect()}
    C = np.cov(X, rowvar=False, bias=True)
    for i in range(4):
        for j in range(i, 4):
            assert abs(got[(i + 1, j + 1)] - C[i, j]) < 1e-9, (i, j)

    proj = pca_project(df, n_components=2)
    rows = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in proj.collect()}
    vals, vecs = np.linalg.eigh(C)
    top = vecs[:, ::-1][:, :2]
    for k in range(2):
        piv = np.argmax(np.abs(top[:, k]))
        if top[piv, k] < 0:
            top[:, k] = -top[:, k]
    want = X @ top
    for i in range(60):
        assert abs(rows[i][0] - want[i, 0]) < 1e-6
        assert abs(rows[i][1] - want[i, 1]) < 1e-6
    # pc1 must dominate: it carries the planted [1,2,·,·] direction
    var1 = np.var([rows[i][0] for i in range(60)])
    var2 = np.var([rows[i][1] for i in range(60)])
    assert var1 > 10 * var2


def test_per_group_cap_deterministic_and_exact(spark):
    from fefal_etl_spark.llm.sampling import per_group_cap

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(60)], "k long, g string"
    )
    out = per_group_cap(df, group_col="g", key_col="k", cap=5)
    rows = out.collect()
    from collections import Counter

    counts = Counter(r["g"] for r in rows)
    assert counts == {"g0": 5, "g1": 5, "g2": 5}
    # deterministic: same subset on re-run and after repartition
    again = per_group_cap(
        df.repartition(13), group_col="g", key_col="k", cap=5
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # a different salt draws a different (but equally sized) subset
    other = per_group_cap(df, group_col="g", key_col="k", cap=5, salt="x")
    assert sorted(r["k"] for r in other.collect()) != sorted(
        r["k"] for r in rows
    )
    # groups under the cap pass through whole
    small = per_group_cap(df, group_col="g", key_col="k", cap=100)
    assert small.count() == 60


def test_segment_dedup_removes_repeats_and_keeps_first(spark):
    from fefal_etl_spark.llm.dedup import segment_dedup

    seg_a = " ".join(f"a{i}" for i in range(20))
    seg_b = " ".join(f"b{i}" for i in range(20))
    seg_c = " ".join(f"c{i}" for i in range(20))
    rows = [
        # doc 1: A B — both first occurrences, kept whole
        (1, f"{seg_a} {seg_b}"),
        # doc 2: A C — A already seen in doc 1, only C survives
        (2, f"{seg_a} {seg_c}"),
        # doc 3: B B — cross-doc dup AND within-doc repeat: nothing survives
        (3, f"{seg_b} {seg_b}"),
        # doc 4: C + 5-word tail — tail is its own (partial) segment
        (4, f"{seg_c} tail words only here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in segment_dedup(df, segment_words=20).collect()
    }
    assert out[1]["clean_text"] == f"{seg_a} {seg_b}"
    assert out[1]["n_segments"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["clean_text"] == seg_c
    assert out[2]["n_kept"] == 1
    assert 3 not in out  # fully deduplicated doc disappears
    assert out[4]["clean_text"] == "tail words only here now"
    assert out[4]["n_segments"] == 2 and out[4]["n_kept"] == 1


def test_temperature_resample_flattens_and_caps(spark):
    from pyspark.sql import functions as F

    from fefal_etl_spark.llm.sampling import temperature_resample

    # 1600 docs in 'big', 25 in 'small': α=0.5 weights 40 vs 5 → the small
    # group's target rate (T·w/W)/n = (812·5/45)/25 ≈ 3.6 caps at 1.0
    # (keep all), the big group thins to ≈(812·40/45)/1600 ≈ 0.45.
    rows = [(i, "big") for i in range(1600)] + [
        (10_000 + i, "small") for i in range(25)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = temperature_resample(
        df, key_col="doc_id", group_col="source", target_pct=50
    )
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src["small"] == 25  # rate ≥ 1 keeps every row, never duplicates
    assert 0.35 * 1600 < by_src["big"] < 0.55 * 1600  # thinned toward target
    # determinism: a second run selects the identical ids
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in temperature_resample(
            df, key_col="doc_id", group_col="source", target_pct=50
        ).collect()
    )
    assert a == b


def test_canonicalize_clusters_keeper_and_singletons(spark):
    from fefal_etl_spark.llm.dedup import canonicalize_clusters

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (9, 5)], ["doc_id", "n_chars"]
    )
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    out = {r["component"]: r for r in canonicalize_clusters(docs, edges).collect()}
    # cluster {1,2,3}: quality tie 2 vs 3 → lowest id wins
    assert out[1]["keeper_id"] == 2 and out[1]["cluster_size"] == 3
    # untouched doc is its own singleton
    assert out[9]["keeper_id"] == 9 and out[9]["cluster_size"] == 1


def test_shard_assign_balance_and_write_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from fefal_etl_spark.llm.sampling import shard_assign

    df = spark.range(0, 6400).select(
        F.col("id").alias("doc_id"),
        shard_assign(F.col("id"), num_shards=64).alias("shard"),
    )
    sizes = [r["n"] for r in df.groupBy("shard").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 64
    assert max(sizes) < 2.0 * min(sizes)  # hash balance at 100 rows/shard
    # the write path: partitionBy(shard) materializes one dir per shard
    out = str(tmp_path / "shards")
    df.write.partitionBy("shard").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 6400
    assert back.select("shard").distinct().count() == 64


def test_vocab_coverage_scores_oov_docs_low(spark):
    from fefal_etl_spark.llm.text_analysis import vocab_coverage

    rows = [(i, "common words repeat here") for i in range(10)] + [
        (100, "zz qq xx vv"),  # fully out-of-vocabulary
        (101, "common words zz qq"),  # half covered
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in vocab_coverage(df, vocab_size=4).collect()}
    assert out[0]["coverage"] == 1.0
    assert out[100]["coverage"] == 0.0
    assert abs(out[101]["coverage"] - 0.5) < 1e-12
    assert out[101]["n_tokens"] == 4 and out[101]["n_in_vocab"] == 2


def test_quantized_prefilter_keeps_true_neighbors(spark):
    from pyspark.sql import functions as F

    from fefal_etl_spark.llm.similarity import cosine_topk, quantized_rerank_topk

    # int8 codes preserve direction well enough that the float top-3 must
    # survive a 10-wide integer prefilter on a 64-dim corpus
    import math
    rows = []
    for i in range(50):
        vec = [math.sin(0.1 * i * (d + 1)) for d in range(16)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {
        r["vec_id"]
        for r in cosine_topk(df, qs, k=3).collect()
    }
    got = {
        r["vec_id"]
        for r in quantized_rerank_topk(df, qs, prefilter=10, k=3).collect()
    }
    assert truth == got


def test_unigram_logprob_flags_rare_token_docs(spark):
    from fefal_etl_spark.llm.text_analysis import unigram_logprob

    rows = [(i, "common common common common") for i in range(20)] + [
        (100, "rareword common common common"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    # the doc carrying the corpus-rare token must score strictly higher
    assert out[100]["mean_nll"] > out[0]["mean_nll"]
    assert out[0]["n_tokens"] == 4


def test_duplicate_spans_cross_doc_within_doc_and_merging(spark):
    from fefal_etl_spark.llm.dedup import duplicate_spans

    rows = [
        # doc1 shares a..e with doc2 (one merged span) and f g h with doc5
        # (a second, disjoint span — the u1..u3 gap keeps the islands apart)
        (1, "a b c d e u1 u2 u3 f g h"),
        (2, "x x a b c d e y z w"),
        (3, "p1 p2 p3 p4 p5"),  # unique — no spans
        (4, "m n o k k m n o k k"),  # within-doc repeat; adjacent merge → whole doc
        (5, "q r s t u v w2 f g h"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"], r["span_start"], r["span_end"]): (
            r["span_words"],
            r["n_windows"],
        )
        for r in duplicate_spans(df, "doc_id", "text", k=3).collect()
    }
    assert out == {
        (1, 1, 5): (5, 3),  # windows abc,bcd,cde merged
        (1, 9, 11): (3, 1),  # fgh — new island (gap ≥ 2 from prev span)
        (2, 3, 7): (5, 3),
        (4, 1, 10): (10, 6),  # mno,nok,okk each ×2 within the doc; spans touch → merge
        (5, 8, 10): (3, 1),
    }
    assert not any(d == 3 for d, _, _ in out)


def test_remove_spans_rewrites_and_passes_through(spark):
    from fefal_etl_spark.llm.dedup import duplicate_spans, remove_spans

    rows = [
        (1, "A b c d e u1 u2 u3 f g h"),  # case preserved in output
        (2, "x x a b c d e y z w"),
        (3, "p1 p2 p3 p4 p5"),  # no spans — verbatim pass-through
        (4, "m n o k k m n o k k"),  # fully duplicated → empty rewrite
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicate_spans(df, "doc_id", "text", k=3)
    out = {r["doc_id"]: r for r in remove_spans(df, spans).collect()}
    assert out[1]["clean_text"] == "u1 u2 u3 f g h"  # span [1,5] cut, case kept
    assert out[1]["n_words"] == 11 and out[1]["n_words_removed"] == 5
    assert out[2]["clean_text"] == "x x y z w"
    assert out[3]["clean_text"] == "p1 p2 p3 p4 p5"
    assert out[3]["n_words_removed"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_words_removed"] == 10


def test_cluster_safe_split_never_straddles_clusters(spark):
    from fefal_etl_spark.llm.sampling import cluster_safe_split, train_test_split

    # 3 chained clusters of diameter 2 + 94 singletons
    docs = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    edges = spark.createDataFrame(
        [(0, 10), (10, 20), (1, 11), (11, 21), (2, 12), (12, 22)],
        "src long, dst long",
    )
    out = cluster_safe_split(docs, edges, "doc_id", test_fraction=0.3).collect()
    side = {r["doc_id"]: r["side"] for r in out}
    comp = {r["doc_id"]: r["component"] for r in out}
    # every member of a chain shares the component AND the side
    for a, b, c in [(0, 10, 20), (1, 11, 21), (2, 12, 22)]:
        assert comp[a] == comp[b] == comp[c] == a
        assert side[a] == side[b] == side[c]
    # singletons fall back to their own id and reproduce train_test_split
    singles = docs.filter(~F.col("doc_id").isin([0, 10, 20, 1, 11, 21, 2, 12, 22]))
    train, test = train_test_split(singles, "doc_id", test_fraction=0.3)
    expect_test = {r["doc_id"] for r in test.collect()}
    for r in out:
        if r["component"] == r["doc_id"] and r["doc_id"] not in (0, 1, 2):
            assert (r["side"] == "test") == (r["doc_id"] in expect_test)
    assert {r["side"] for r in out} == {"train", "test"}


def test_sparse_cosine_pairs_prunes_boilerplate_and_matches_exactly(spark):
    from fefal_etl_spark.llm.similarity import sparse_cosine_pairs

    # "common" is in all 4 docs (df=4 > 50% of 4) → pruned before the
    # self-join; without pruning every pair would share it
    rows = [
        (1, "common alpha beta gamma delta"),
        (2, "common alpha beta gamma epsilon"),
        (3, "common zeta eta theta"),
        (4, "common mu nu xi"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sparse_cosine_pairs(df, max_df_pct=50, threshold=0.4).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["n_shared_terms"] == 3  # alpha/beta/gamma; never "common"
    # integer weights make this exact: dot 3·(5e5)², norms 1.75e12 → 3/7
    assert r["cos_sim"] == round(3 / 7, 6)


def test_cdc_chunks_edit_locality(spark):
    """The CDC property fixed-size chunking lacks: an edit near the head
    re-keys only the chunks it touches — tail chunk hashes survive."""
    from fefal_etl_spark.llm.curation import content_defined_chunks

    base = " ".join(f"word{i % 53}tok{i % 17}" for i in range(400))
    edited = "CHANGED " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    out = content_defined_chunks(df, "doc_id", "text").collect()
    h1 = {r["chunk_md5"] for r in out if r["doc_id"] == 1}
    h2 = {r["chunk_md5"] for r in out if r["doc_id"] == 2}
    shared = h1 & h2
    # the overwhelming majority of chunks must re-match despite the edit
    assert len(shared) >= max(1, int(0.7 * len(h1)))
    # and the edited head produced at least one differing chunk
    assert h2 - h1
    # expected chunk length ~ modulus: sanity-band on mean chunk size
    n_words = sum(r["n_words"] for r in out if r["doc_id"] == 1)
    assert n_words == 400


def test_cdc_chunks_deterministic_and_complete(spark):
    from fefal_etl_spark.llm.curation import content_defined_chunks

    df = spark.createDataFrame(
        [(7, "  Alpha beta GAMMA  delta epsilon zeta eta theta  ")],
        "doc_id long, text string",
    )
    rows = content_defined_chunks(df, "doc_id", "text").collect()
    # every word lands in exactly one chunk; ids are dense from 0
    assert sum(r["n_words"] for r in rows) == 8
    ids = sorted(r["chunk_id"] for r in rows)
    assert ids == list(range(len(ids)))


def test_ppjoin_exact_recall_superset_of_lsh(spark, corpus):
    """PPJoin's prefix filter has 100% recall at its threshold, so its pair
    set must contain every pair minhash-LSH (probabilistic) reports at the
    same Jaccard gate."""
    from fefal_etl_spark.llm.dedup import minhash_lsh_neardup, ppjoin_pairs

    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_pairs(corpus, "doc_id", "text", threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_neardup(
            corpus, "doc_id", "text", num_hashes=16, rows_per_band=4, threshold=0.5
        ).collect()
    }
    assert set(lsh) <= set(exact)
    # identical exact-Jaccard values where both report the pair
    for k in lsh:
        assert exact[k] == lsh[k]
    # the exact-dup pair is present with jaccard 1.0
    assert exact[(1, 4)] == 1.0


def test_containment_catches_quote_that_jaccard_misses(spark):
    """A short doc quoted inside a much longer one: containment ≈ 1 but
    Jaccard ≈ |A|/|B| — the pair only the asymmetric gate can find."""
    from fefal_etl_spark.llm.dedup import containment_neardup, ppjoin_pairs

    quote = "the seven league boots stride over the misty mountain tops tonight"
    filler = " ".join(f"filler{i}word{i*7%13} extra{i%5}" for i in range(60))
    rows = [
        (1, quote),
        (2, filler + " " + quote + " " + filler.upper().lower()),
        (3, "entirely unrelated text about query planners and shuffles today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_neardup(df, "doc_id", "text", threshold=0.9).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0
    assert all(3 not in k for k in cont)
    # the symmetric Jaccard gate at 0.5 cannot see this pair
    jac = {
        (r["id_a"], r["id_b"])
        for r in ppjoin_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) not in jac


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    from fefal_etl_spark.llm.text_analysis import bpe_pair_counts

    # "ab" appears in 'ab' (3 docs) and 'abc' (1 doc) → weight 4
    df = spark.createDataFrame(
        [(1, "ab ab xy"), (2, "ab abc"), (3, "xy q")], "doc_id long, text string"
    )
    got = {r["pair"]: r["n"] for r in bpe_pair_counts(df, "text").collect()}
    assert got["ab"] == 4   # freq('ab')=3 + freq('abc')=1
    assert got["bc"] == 1
    assert got["xy"] == 2
    assert "q" not in got   # single-char words contribute no pairs


def test_bigram_logprob_penalizes_word_order(spark):
    """Same vocabulary, scrambled order → higher bigram NLL; the unigram
    gate cannot distinguish the two docs."""
    from fefal_etl_spark.llm.text_analysis import bigram_logprob, unigram_logprob

    # corpus dominated by documents sharing natural bigrams; the scrambled
    # doc reuses doc 1's exact words in an order whose bigrams appear
    # nowhere else (and never repeat, so the self-trained model can't
    # learn the scramble as its own dialect)
    animals = ["cat", "dog", "fox", "owl", "hen", "pig", "ram", "bat"]
    naturals = [
        (i + 1, f"the {a} sat on the mat and the {a} ran to the barn")
        for i, a in enumerate(animals)
    ]
    w = naturals[0][1].split()
    scrambled = " ".join(w[::3] + w[1::3] + w[2::3])
    df = spark.createDataFrame(
        naturals + [(99, scrambled)], "doc_id long, text string"
    )
    bg = {r["doc_id"]: r["mean_nll"] for r in bigram_logprob(df).collect()}
    ug = {r["doc_id"]: r["mean_nll"] for r in unigram_logprob(df).collect()}
    assert bg[99] > bg[1]
    assert abs(ug[1] - ug[99]) < 1e-9  # unigram blind to order


def test_hll_rollup_accuracy_and_merge(spark):
    """Sketch estimates must be within 5% of exact, and the union of daily
    sketches must equal one sketch over everything (mergeability — the
    whole point of the rollup)."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 10, i % 24), i % 700, "view", 1.0, "{}")
        for i in range(5000)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    daily = df.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    merged = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").alias("est")
    ).collect()[0]["est"]
    direct = df.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").cast("long").alias("est")
    ).collect()[0]["est"]
    exact = df.select("user_id").distinct().count()
    # mergeable: union of parts estimates the same cardinality as one
    # sketch of the whole (not bit-identical — the union can promote the
    # sparse representation to dense HLL_8, shifting the estimator)
    assert abs(merged - direct) / exact < 0.02
    assert abs(merged - exact) / exact < 0.05
    assert abs(direct - exact) / exact < 0.05


def test_weighted_sample_respects_weights(spark):
    """With weight ratio ~100:1, heavy ids must dominate the sample; the
    sample is a pure function of (salt, id, weight) — rerun-identical."""
    from fefal_etl_spark.llm.sampling import weighted_sample

    rows = [(i, 1000 if i < 50 else 10) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out1 = weighted_sample(df, "doc_id", "w", k=40).collect()
    out2 = weighted_sample(df, "doc_id", "w", k=40).collect()
    assert [r["doc_id"] for r in out1] == [r["doc_id"] for r in out2]
    heavy = sum(1 for r in out1 if r["doc_id"] < 50)
    # 50 heavy ids carry 50k weight vs 9.5k for 950 light ones (~84%);
    # with k=40 the heavy share must be clearly dominant
    assert heavy >= 20
    # ranks are dense and ordering matches the key
    ks = [r["sample_key"] for r in out1]
    assert ks == sorted(ks, reverse=True)
    assert [r["rk"] for r in out1] == list(range(1, 41))


# ----------------------------------------------------------------------
# incremental LSH dedup index
# ----------------------------------------------------------------------


def test_lsh_index_matches_batch_path_cross_pairs(spark, tmp_path):
    """Index-probe incremental matching must find exactly the cross-side
    pairs the one-shot batch path finds on the combined corpus (same
    signature scheme ⇒ same candidates ⇒ same verified pairs)."""
    from fefal_etl_spark.llm.dedup import minhash_lsh_neardup
    from fefal_etl_spark.llm.incremental_dedup import LshDedupIndex

    existing = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, "completely different content about spark query engines and shuffles"),
            (5, "materialized views are maintained incrementally from the change feed"),
        ],
        "doc_id long, text string",
    )
    new_batch = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog again and again tonight"),
            (12, "the quick brown fox jumps over the lazy dog again and again today"),
            (13, "entirely novel material mentioning neither foxes nor dogs at all ok"),
        ],
        "doc_id long, text string",
    )
    idx = LshDedupIndex(spark, str(tmp_path / "idx"))
    idx.build(existing, "doc_id", "text")
    got = {
        (r["new_id"], r["old_id"]): r["jaccard"]
        for r in idx.match_new(
            new_batch, existing, "doc_id", "text", threshold=0.5
        ).collect()
    }
    batch = minhash_lsh_neardup(
        existing.unionByName(new_batch),
        "doc_id", "text", num_hashes=16, rows_per_band=4, threshold=0.5,
    )
    exp = {
        (r["id_b"], r["id_a"]): r["jaccard"]
        for r in batch.collect()
        if r["id_a"] <= 5 and r["id_b"] >= 11  # cross-side only
    }
    assert got == exp and (12, 1) in got and got[(12, 1)] == 1.0
    assert all(nid != 13 for nid, _ in got)  # novel doc matches nothing


def test_lsh_index_add_batch_grows_and_is_idempotent(spark, tmp_path):
    """add_batch extends match coverage to the indexed batch; replaying
    the same (app_id, txn_version) append is skipped by the ledger."""
    from fefal_etl_spark.llm.incremental_dedup import LshDedupIndex

    d1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    d2 = spark.createDataFrame(
        [(2, "unrelated words about completely different things entirely here now")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(9, "unrelated words about completely different things entirely here too")],
        "doc_id long, text string",
    )
    idx = LshDedupIndex(spark, str(tmp_path / "idx"))
    idx.build(d1, "doc_id", "text")
    corpus = d1.unionByName(d2)
    # before indexing d2: no match for the probe
    assert idx.match_new(probe, corpus, "doc_id", "text").count() == 0
    assert idx.add_batch(d2, "doc_id", "text", app_id="ing", txn_version=1) == 1
    m = idx.match_new(probe, corpus, "doc_id", "text").collect()
    assert [(r["new_id"], r["old_id"]) for r in m] == [(9, 2)]
    # replayed batch: ledger skip, no new version, no duplicate rows
    before = idx.table.read().count()
    assert idx.add_batch(d2, "doc_id", "text", app_id="ing", txn_version=1) is None
    assert idx.table.read().count() == before
    # version pinning: a match against the pre-append snapshot ignores d2
    assert idx.match_new(probe, corpus, "doc_id", "text", version=0).count() == 0


def test_ivf_ann_index_matches_batch_and_prunes(spark, tmp_path):
    """The persistent IVF index must (a) return exactly the batch
    ivf_topk result on the same corpus/queries, (b) prune buckets at the
    manifest level, and (c) dedupe replayed add_batch ingestion."""
    from fefal_etl_spark.datasets import load_table
    from fefal_etl_spark.llm.incremental_ann import IvfAnnIndex
    from fefal_etl_spark.llm.similarity import ivf_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    existing = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = emb.filter(F.col("vec_id") < 8)
    idx = IvfAnnIndex(spark, str(tmp_path / "idx"))
    idx.build(existing, cents)
    got = {
        (r["query_id"], r["rk"]): (r["vec_id"], round(r["cos_sim"], 9))
        for r in idx.match_new(new, cents, nprobe=2, k=5).collect()
    }
    exp = {
        (r["query_id"], r["rk"]): (r["vec_id"], round(r["cos_sim"], 9))
        for r in ivf_topk(
            existing,
            cents.select(F.col("vec_id").alias("centroid_id"), "embedding"),
            new.select(F.col("vec_id").alias("query_id"), "embedding"),
            nprobe=2,
            k=5,
        ).collect()
    }
    assert got == exp and got
    # bucket pruning is manifest-side: one bucket keeps < all files
    kept, total = idx.table.pruned_partition_files(centroid_id=3)
    assert kept < total
    # exactly-once ingestion of a batch
    n0 = idx.table.read().count()
    assert idx.add_batch(new, cents, app_id="ing", txn_version=1) is not None
    n1 = idx.table.read().count()
    assert n1 == n0 + new.count()
    assert idx.add_batch(new, cents, app_id="ing", txn_version=1) is None
    assert idx.table.read().count() == n1


def test_png_codec_roundtrip_and_filters():
    """Round-6 PNG codec (media_codecs.py): encode→decode roundtrip,
    all five scanline filters reconstructed correctly (forward-filter a
    known raster per spec, decode must invert it), RGBA alpha drop, and
    CRC tamper detection."""
    import zlib

    import numpy as np
    import pytest

    from fefal_etl_spark.llm.media_codecs import (
        _png_chunk,
        _PNG_MAGIC,
        decode_image,
        decode_png,
        encode_like,
        encode_png,
        synth_image_array,
    )

    for w, h in [(1, 1), (2, 3), (5, 4), (7, 2), (8, 5)]:
        a = synth_image_array(321, w, h)
        assert np.array_equal(decode_png(encode_png(a)), a)
        assert np.array_equal(decode_image(encode_png(a)), a)
    # encode_like picks PNG for a PNG template
    a = synth_image_array(5, 3, 3)
    assert encode_like(a, encode_png(a))[:8] == _PNG_MAGIC

    def png_with_filters(arr, ftypes, channels=3):
        """Forward-apply per-row filters (PNG spec §9) and build a file."""
        h, w, _ = arr.shape
        bpp = channels
        stride = w * bpp
        recon = arr.reshape(h, stride).astype(np.int32)
        lines = []
        prev = np.zeros(stride, dtype=np.int32)
        for y, ft in enumerate(ftypes):
            cur = recon[y]
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            if ft == 0:
                out = cur
            elif ft == 1:
                out = cur - left
            elif ft == 2:
                out = cur - prev
            elif ft == 3:
                out = cur - (left + prev) // 2
            else:  # paeth
                p = left + prev - upleft
                pa = np.abs(p - left)
                pb = np.abs(p - prev)
                pc = np.abs(p - upleft)
                pred = np.where(
                    (pa <= pb) & (pa <= pc),
                    left,
                    np.where(pb <= pc, prev, upleft),
                )
                out = cur - pred
            lines.append(bytes([ft]) + bytes((out & 0xFF).astype(np.uint8)))
            prev = cur
        color = 6 if channels == 4 else 2
        ihdr = (
            w.to_bytes(4, "big")
            + h.to_bytes(4, "big")
            + bytes([8, color, 0, 0, 0])
        )
        return (
            _PNG_MAGIC
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + _png_chunk(b"IEND", b"")
        )

    rgb = synth_image_array(777, 6, 5)
    data = png_with_filters(rgb, [0, 1, 2, 3, 4])
    assert np.array_equal(decode_png(data), rgb)
    # all-paeth (libpng's common choice for photographic rows)
    assert np.array_equal(
        decode_png(png_with_filters(rgb, [4] * 5)), rgb
    )
    # RGBA (color type 6): alpha channel dropped on decode
    rgba = np.dstack([rgb, np.full(rgb.shape[:2], 200, np.uint8)])
    data = png_with_filters(rgba, [0, 4, 1, 3, 2], channels=4)
    assert np.array_equal(decode_png(data), rgb)
    # CRC tamper must be rejected
    bad = bytearray(encode_png(rgb))
    bad[40] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    # multiple IDAT chunks concatenate
    comp = zlib.compress(
        b"".join(
            b"\x00" + bytes(rgb.reshape(5, 18)[y]) for y in range(5)
        )
    )
    ihdr = (6).to_bytes(4, "big") + (5).to_bytes(4, "big") + bytes(
        [8, 2, 0, 0, 0]
    )
    split = (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", comp[:10])
        + _png_chunk(b"IDAT", comp[10:])
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(split), rgb)


@pytest.mark.slow
def test_lsh_index_compaction_preserves_probe(spark, tmp_path):
    """Round-6 (VERDICT r5 item 6): multi-batch appends accumulate small
    files; LshDedupIndex.compact() must reduce the file count while
    leaving match_new results identical."""
    from fefal_etl_spark.llm.incremental_dedup import LshDedupIndex

    docs = [
        (i, f"shared prefix words alpha beta gamma delta epsilon batch{i} "
            f"tail token{i} more filler words here")
        for i in range(1, 7)
    ]
    frames = [
        spark.createDataFrame([d], "doc_id long, text string") for d in docs
    ]
    probe = spark.createDataFrame(
        [(99, docs[2][1])], "doc_id long, text string"
    )
    corpus = frames[0]
    for fdf in frames[1:]:
        corpus = corpus.unionByName(fdf)
    idx = LshDedupIndex(spark, str(tmp_path / "idx"))
    idx.build(frames[0], "doc_id", "text")
    for i, fdf in enumerate(frames[1:], start=1):
        idx.add_batch(fdf, "doc_id", "text")
    before_files = len(idx.table._read_manifest(idx.table.latest_version()).files)
    before = sorted(
        (r["new_id"], r["old_id"], round(r["jaccard"], 9))
        for r in idx.match_new(probe, corpus, "doc_id", "text").collect()
    )
    assert before  # the probe matches its twin
    idx.compact()
    after_files = len(idx.table._read_manifest(idx.table.latest_version()).files)
    assert after_files < before_files
    after = sorted(
        (r["new_id"], r["old_id"], round(r["jaccard"], 9))
        for r in idx.match_new(probe, corpus, "doc_id", "text").collect()
    )
    assert after == before
    # index content is row-identical (logical no-op commit)
    assert (
        idx.table.read().orderBy("doc_id", "band").collect()
        == idx.table.read(version=idx.table.latest_version() - 1)
        .orderBy("doc_id", "band")
        .collect()
    )


def test_ivf_index_compaction_keeps_partition_pruning(spark, tmp_path):
    """IvfAnnIndex.compact() must collapse per-batch bucket files while
    KEEPING the hive layout: probe results identical, file count down,
    manifest-side bucket pruning still effective."""
    from fefal_etl_spark.datasets import load_table
    from fefal_etl_spark.llm.incremental_ann import IvfAnnIndex

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    existing = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = emb.filter(F.col("vec_id") < 8)
    idx = IvfAnnIndex(spark, str(tmp_path / "idx"))
    # three per-batch appends → every bucket shattered across batches
    slices = [
        existing.filter(F.col("vec_id") % 3 == m) for m in range(3)
    ]
    idx.build(slices[0], cents)
    idx.add_batch(slices[1], cents)
    idx.add_batch(slices[2], cents)
    before_files = len(idx.table._read_manifest(idx.table.latest_version()).files)
    before = sorted(
        (r["query_id"], r["rk"], r["vec_id"], round(r["cos_sim"], 9))
        for r in idx.match_new(new, cents, nprobe=2, k=5).collect()
    )
    assert before
    idx.compact()
    after_files = len(idx.table._read_manifest(idx.table.latest_version()).files)
    assert after_files < before_files
    after = sorted(
        (r["query_id"], r["rk"], r["vec_id"], round(r["cos_sim"], 9))
        for r in idx.match_new(new, cents, nprobe=2, k=5).collect()
    )
    assert after == before
    # pruning still manifest-side after the partitioned rewrite
    kept, total = idx.table.pruned_partition_files(centroid_id=3)
    assert kept < total
