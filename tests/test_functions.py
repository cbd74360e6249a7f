"""Training-data pipeline operators: dedup, similarity, text, multimodal.

Each oracle-checked operator is verified value-for-value against its own
DuckDB SQL twin at sf0.001 (the same comparison the driver harness runs
at sf0.01); LSH paths additionally assert recall / candidate-superset
properties that SQL can't express.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from graphlab_spark.functions import dedup as D
from graphlab_spark.functions import multimodal as M
from graphlab_spark.functions import similarity as S
from graphlab_spark.functions import text as T

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'")
    return con


def assert_parity(sdf, duck, sql):
    sp = sorted(tuple(r) for r in sdf.collect())
    dk = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    assert sp == dk, (
        f"spark={len(sp)} duck={len(dk)} "
        f"spark_only={list(set(sp) - set(dk))[:3]} duck_only={list(set(dk) - set(sp))[:3]}"
    )


# -- text --------------------------------------------------------------------

def test_text_ops_parity(spark, docs, duck):
    sdf = docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).alias("ws_toks"),
        T.bpe_token_count(F.col("text")).alias("bpe_toks"),
        T.lang_id(F.col("text")).alias("lang_guess"),
        F.round(T.quality_score(F.col("text")), 6).alias("quality"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    sql = (
        f"SELECT doc_id, {T.sql_ws_token_count()} AS ws_toks, "
        f"{T.sql_bpe_token_count()} AS bpe_toks, {T.sql_lang_id()} AS lang_guess, "
        f"round({T.sql_quality_score()}, 6) AS quality, "
        f"{T.sql_fingerprint()} AS fp FROM documents"
    )
    assert_parity(sdf, duck, sql)


def test_text_edge_cases(spark):
    rows = [(1, ""), (2, "   "), (3, "a"), (4, "the the the"), (5, "der und das ist")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["toks"], r["lang"], r["fp"])
        for r in df.select(
            "doc_id",
            T.ws_token_count(F.col("text")).alias("toks"),
            T.lang_id(F.col("text")).alias("lang"),
            T.fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert out[1][0] == 0 and out[2][0] == 0
    assert out[3][0] == 1
    assert out[4][1] == "en"
    assert out[5][1] == "de"
    assert all(v[2] is not None for v in out.values())


# -- dedup -------------------------------------------------------------------

def test_exact_dedup_parity_and_planted(spark, docs, duck):
    assert_parity(D.exact_dup_groups(docs), duck, D.sql_exact_dup_groups())
    # planted exact dups must be found
    planted = docs.limit(3).select(F.col("doc_id") + 100000, "text", "lang",
                                   "source", "n_chars")
    with_dups = docs.unionByName(planted.toDF(*docs.columns))
    groups = D.exact_dup_groups(with_dups).collect()
    assert len(groups) == 3
    assert all(g["n_docs"] == 2 for g in groups)


def test_jaccard_pairs_parity(spark, docs, duck):
    assert_parity(D.jaccard_pairs(docs), duck, D.sql_jaccard_pairs())


def test_minhash_lsh_parity_and_recall(spark, docs, duck):
    assert_parity(D.minhash_lsh_pairs(docs), duck, D.sql_minhash_lsh_pairs())
    # LSH candidates must recover every >=tau pair here (high-sim pairs
    # collide in >=1 band with near certainty at tau=0.8, k=8, r=2)
    full = {(r["doc_a"], r["doc_b"]) for r in D.jaccard_pairs(docs).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in D.minhash_lsh_pairs(docs).collect()}
    assert lsh == full


def test_minhash_nonportable_same_pairs(spark, docs):
    """The xxhash64 scale path must find the same verified pairs (the
    signatures differ; the verified-pair semantics must not)."""
    portable = {(r["doc_a"], r["doc_b"]) for r in D.minhash_lsh_pairs(docs).collect()}
    fast = {(r["doc_a"], r["doc_b"])
            for r in D.minhash_lsh_pairs(docs, portable=False).collect()}
    assert fast == portable


def test_simhash_parity(spark, docs, duck):
    assert_parity(D.simhash_signatures(docs), duck, D.sql_simhash_signatures())
    assert_parity(D.simhash_pairs(docs), duck, D.sql_simhash_pairs())


def test_simhash_identical_docs_distance_zero(spark):
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
            (3, "totally different words entirely unrelated")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in D.simhash_pairs(df, ham_max=16).collect()}
    assert pairs[(1, 2)] == 0


# -- similarity --------------------------------------------------------------

def test_cosine_pairs_parity(spark, emb, duck):
    assert_parity(S.cosine_pairs(emb), duck, S.sql_cosine_pairs())


def test_ann_brute_parity(spark, emb, duck):
    assert_parity(S.ann_topk_brute(emb), duck, S.sql_ann_topk_brute())


def test_ann_lsh_recall(spark, emb):
    brute = {(r["query_id"], r["neighbor_id"]) for r in S.ann_topk_brute(emb).collect()}
    lsh = {(r["query_id"], r["neighbor_id"]) for r in S.ann_topk_lsh(emb).collect()}
    assert len(brute & lsh) / len(brute) >= 0.5


def test_cosine_self_similarity(spark, emb):
    n = S.with_norm(emb).select(
        "vec_id",
        F.round(S._dot("embedding", "embedding") / (F.col("nrm") * F.col("nrm")), 6)
        .alias("c"),
    )
    assert n.filter(F.col("c") != 1.0).count() == 0


# -- multimodal --------------------------------------------------------------

def test_media_stats_parity(spark, docs, duck):
    media = M.media_from_documents(docs)
    assert_parity(M.media_stats(media), duck, M.sql_media_stats())


def test_media_feature_extraction_shape(spark, docs):
    media = M.media_from_documents(docs)
    feats = M.extract_features(media)
    rows = feats.limit(20).collect()
    assert feats.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,n_bytes:bigint,feature:array<double>>"
    )
    assert all(len(r["feature"]) == M.FEATURE_DIM for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    # deterministic: same payload -> same feature
    again = M.extract_features(media).limit(20).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_decoded_media_stats_parity(spark, docs, duck):
    media = M.synthesize_payloads(docs)
    assert_parity(M.decoded_media_stats(media), duck,
                  M.sql_decoded_media_stats())


def test_image_codec_roundtrip_and_goldens():
    import numpy as np
    arr = (np.arange(48).reshape(6, 8) * 5 % 256).astype(np.uint8)
    assert np.array_equal(M.decode_image(M.encode_pgm(arr)), arr)
    rgb = (np.arange(60).reshape(4, 5, 3) * 7 % 256).astype(np.uint8)
    assert np.array_equal(M.decode_image(M.encode_ppm(rgb)), rgb)
    # hand-crafted header: comment line + multi-space separators
    raw = b"P5\n# a comment\n3  2\n255\n" + bytes(range(6))
    assert np.array_equal(M.decode_image(raw),
                          np.arange(6, dtype=np.uint8).reshape(2, 3))
    with pytest.raises(ValueError):
        M.decode_image(b"\x89PNG\r\n")  # compressed formats stay out
    with pytest.raises(ValueError):
        M.decode_image(b"P5\n3 2\n255\n\x00")  # truncated raster


def test_wav_codec_matches_stdlib_wave():
    import io
    import wave

    import numpy as np
    samples = ((np.arange(100) * 37) % 65536 - 32768).astype(np.int16)
    ours = M.encode_wav(samples, 8000)
    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.astype("<i2").tobytes())
    assert ours == bio.getvalue()  # byte-identical to the stdlib writer
    rate, dec = M.decode_audio(ours)
    assert rate == 8000 and np.array_equal(dec.ravel(), samples)
    # stereo + stdlib-written input decoded by us
    st = np.stack([samples, samples[::-1]], axis=1)
    r2, d2 = M.decode_audio(M.encode_wav(st, 44100))
    assert r2 == 44100 and np.array_equal(d2, st)
    with pytest.raises(ValueError):
        M.decode_audio(b"\xff\xd8\xff")


def test_video_stream_frame_sampling():
    import numpy as np
    frames = [np.full((4, 4, 3), i, np.uint8) for i in range(5)]
    stream = b"".join(M.encode_ppm(f) for f in frames)
    picked = M.sample_video_frames(stream, 2)
    assert len(picked) == 3
    for p, i in zip(picked, [0, 2, 4]):
        assert np.array_equal(p, frames[i])
    assert len(M.sample_video_frames(stream, 1)) == 5


def test_video_stream_many_frames_match_per_frame_decode():
    """A long multi-frame P6 stream (mixed frame sizes, a header
    comment) decodes to exactly the frames decode_image gives for each
    frame on its own; headers are parsed in place, not from a copy of
    the remaining stream."""
    import numpy as np
    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 256, (1 + i % 3, 2 + i % 5, 3), np.uint8)
              for i in range(400)]
    encoded = [M.encode_ppm(f) for f in frames]
    encoded[7] = encoded[7].replace(b"P6\n", b"P6\n# frame 7\n", 1)
    stream = b"".join(encoded)
    for every_n in (1, 3):
        picked = M.sample_video_frames(stream, every_n)
        want = [M.decode_image(e) for e in encoded[::every_n]]
        assert len(picked) == len(want)
        assert all(np.array_equal(p, w) for p, w in zip(picked, want))
    with pytest.raises(ValueError, match="truncated"):
        M.sample_video_frames(stream[:-1], 1)


def test_extract_features_uses_decoded_content(spark, docs):
    """Features over synthesized real payloads must come from DECODED
    values, not raw payload bytes: for audio the decoded int16 samples
    differ from the WAV container bytes, so the two featurizations
    disagree."""
    import numpy as np
    media = M.synthesize_payloads(docs.limit(30))
    rows = M.extract_features(media).filter("kind = 'audio'").collect()
    assert rows
    payloads = {r["media_id"]: r for r in
                media.filter("kind = 'audio'").collect()}
    for r in rows:
        b = bytes(payloads[r["media_id"]]["payload"])
        rate, samples = M.decode_audio(b)
        want = [float(int(samples.ravel()[i::M.FEATURE_DIM].sum()) % 997)
                for i in range(M.FEATURE_DIM)]
        raw = [float(int(np.frombuffer(b, np.uint8)[i::M.FEATURE_DIM]
                         .sum()) % 997) for i in range(M.FEATURE_DIM)]
        assert r["feature"] == want
        assert want != raw  # decode path actually engaged


def test_token_frequencies_parity(spark, docs, duck):
    assert_parity(T.token_frequencies(docs), duck, T.sql_token_frequencies())


def test_winnowing_parity_and_dup_property(spark, docs, duck):
    assert_parity(T.winnowing_fingerprints(docs), duck,
                  T.sql_winnowing_fingerprints())
    # identical docs share ALL fingerprints
    rows = [(1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "completely different content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = T.winnowing_fingerprints(df)
    by_doc = {
        d: {r["fp"] for r in fps.filter(F.col("doc_id") == d).collect()}
        for d in (1, 2, 3)
    }
    assert by_doc[1] == by_doc[2]
    assert by_doc[1] != by_doc[3]


def test_minhash_clusters_transitive_closure(spark):
    """A~B and B~C near-dups must collapse into one cluster under the
    smallest doc_id even if (A, C) never pair directly; unrelated docs
    stay their own canonical."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    rows = [
        (1, base + " alpha"),
        (2, base + " alphb"),          # ~1 char from doc 1
        (3, base + " alphc"),          # ~1 char from 1 and 2
        (50, "completely different content about spark engines and "
             "distributed joins nothing shared with the fox corpus"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["canonical_id"]
           for r in D.minhash_dup_clusters(docs).collect()}
    assert got[1] == 1 and got[2] == 1 and got[3] == 1
    assert got[50] == 50


def test_ivf_full_probe_equals_brute(spark, emb):
    """Probing every cell degrades IVF to exact brute force — the
    correctness anchor for the cell-restricted candidate join."""
    brute = sorted(map(tuple, S.ann_topk_brute(emb).collect()))
    full = sorted(map(tuple, S.ann_topk_ivf(
        emb, n_cells=S.IVF_CELLS, n_probe=S.IVF_CELLS).collect()))
    assert full == brute


def test_ivf_default_probe_recall(spark, emb):
    """Default n_probe keeps recall@k well above chance and candidate
    work well below brute force."""
    brute = {(r["query_id"], r["neighbor_id"])
             for r in S.ann_topk_brute(emb).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in S.ann_topk_ivf(emb).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.5  # 3 of 8 cells probed


def test_bigram_lm_flags_garbled_text(spark, docs, duck):
    assert_parity(T.char_bigram_lm_scores(docs), duck,
                  T.sql_char_bigram_lm_scores())
    rows = [(i, "the quick brown fox jumps over the lazy dog again and "
                "again with perfectly ordinary english text flowing on")
            for i in range(20)]
    rows.append((99, "zq xv jk qz wx vq kj zx qw vk xq zj wv qx kz jv"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["avg_logp"]
           for r in T.char_bigram_lm_scores(d).collect()}
    natural = [got[i] for i in range(20)]
    assert got[99] < min(natural) - 0.5  # garbled text scores far below
    short = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    r0 = T.char_bigram_lm_scores(short).collect()[0]
    assert r0["n_bigrams"] == 0 and r0["avg_logp"] is None


def test_repetition_signals_parity(spark, docs, duck):
    assert_parity(T.repetition_signals(docs), duck,
                  T.sql_repetition_signals())


def test_repetition_signals_planted(spark):
    """A fully-repeated doc scores ~1 everywhere; an all-distinct doc
    scores 0; empty text scores 0 without errors."""
    d = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "one two three four five six"),
         (3, ""), (4, "a b")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in T.repetition_signals(d).collect()}
    assert rows[1]["dup_unigram_frac"] == 1.0
    assert rows[1]["top_ngram_frac"] == 1.0
    assert rows[1]["top_ngram_char_frac"] > 0.9
    assert rows[2]["dup_unigram_frac"] == 0.0
    assert rows[2]["top_ngram_frac"] == pytest.approx(0.25)  # 4-way tie
    assert rows[3]["n_toks"] == 0
    assert rows[3]["dup_unigram_frac"] == 0.0
    assert rows[4]["top_ngram_frac"] == 0.0  # shorter than n


def test_line_dedup_parity(spark, docs, duck):
    chunked = D.chunk_into_lines(docs.select("doc_id", "text"))
    prelude = ("chunked AS (SELECT doc_id, "
               + D.sql_chunk_into_lines() + " AS text FROM documents),\n")
    assert_parity(D.line_dedup(chunked), duck,
                  D.sql_line_dedup(table="chunked", prelude_ctes=prelude))


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    boiler = "all rights reserved"
    d = spark.createDataFrame(
        [(1, f"alpha\n{boiler}\nbeta"),
         (2, f"{boiler}\ngamma"),
         (3, f"delta\n{boiler}"),
         (4, "unique only")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.line_dedup(d, max_doc_freq=2).collect()}
    assert out[1]["text"] == "alpha\nbeta"
    assert out[1]["n_kept"] == 2 and out[1]["n_dropped"] == 1
    assert out[2]["text"] == "gamma"
    assert out[3]["text"] == "delta"
    assert out[4]["text"] == "unique only"
    assert out[4]["n_dropped"] == 0


def test_chunk_into_lines_preserves_tokens(spark, docs):
    """Chunking only inserts newlines: token sequence is unchanged."""
    before = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    after = D.chunk_into_lines(docs.select("doc_id", "text")).select(
        "doc_id", F.split(F.trim("text"), r"[\s\n]+").alias("t"))
    joined = before.alias("b").join(after.alias("a"), "doc_id")
    bad = joined.filter(F.col("b.t") != F.col("a.t")).count()
    assert bad == 0


def test_knn_graph_parity(spark, emb, duck):
    assert_parity(S.knn_graph(emb, k=3), duck, S.sql_knn_graph(k=3))


def test_knn_graph_candidates_superset_equals_exact(spark, emb):
    """Feeding a candidate set that covers every pair must reproduce
    the exact graph — the contract that makes the LSH/IVF candidate
    path exact-when-recall-is-full."""
    ids = emb.select(F.col("vec_id").alias("src"))
    full = ids.crossJoin(emb.select(F.col("vec_id").alias("dst")))
    a = sorted(map(tuple, S.knn_graph(emb, k=3).collect()))
    b = sorted(map(tuple, S.knn_graph(emb, k=3, candidates=full).collect()))
    assert a == b


def test_knn_graph_lsh_candidates_recall(spark, emb):
    """Sub-quadratic candidate generation keeps useful top-k recall and
    scores strictly fewer pairs than the exact all-pairs path."""
    n = emb.count()
    cand = S.lsh_knn_candidates(emb).persist()
    assert cand.count() < n * (n - 1)  # strictly sub-quadratic here
    exact = {(r.src, r.dst) for r in S.knn_graph(emb, k=3).collect()}
    approx = {(r.src, r.dst)
              for r in S.knn_graph(emb, k=3, candidates=cand).collect()}
    cand.unpersist()
    assert len(exact & approx) / len(exact) >= 0.5


def test_knn_components_recover_planted_blobs(spark):
    """On well-separated Gaussian blobs the k-NN graph must not bridge
    clusters: every CC is label-pure (components refine the planted
    clustering; k=3 may split a blob but never merges two)."""
    from graphlab_spark.sources import load_synthetic_clusters
    pts = load_synthetic_clusters(spark, 240, num_clusters=3, dim=4, seed=5)
    comp = S.knn_components(pts.select("vec_id", "embedding"), k=3)
    joined = comp.join(pts.select(F.col("vec_id").alias("id"), "cluster"), "id")
    impure = (joined.groupBy("component")
              .agg(F.countDistinct("cluster").alias("nlab"))
              .filter(F.col("nlab") > 1).count())
    assert impure == 0
