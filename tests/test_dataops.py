"""Training-data ops: dedup (exact / MinHash-LSH / SimHash / Jaccard),
similarity search (brute + LSH ANN), text analysis, multimodal stubs."""

import pyspark.sql.functions as F

from loongcollector_spark.dataops import similarity, text
from loongcollector_spark.dataops.multimodal import attach_media, extract_media_features


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_lowest_id(spark):
    df = _docs(spark, [(1, "same text"), (5, "same text"), (2, "other text")])
    out = text.ExactDedup().apply(df)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


def test_shingles_distinct_ngrams(spark):
    df = _docs(spark, [(1, "a b c d a b c d")])
    sh = df.select(text.shingles(text.words(F.col("text"))).alias("sh")).collect()[0]["sh"]
    assert sorted(sh) == ["a b c", "b c d", "c d a", "d a b"]


def test_shingles_short_doc_empty(spark):
    df = _docs(spark, [(1, "a b")])
    sh = df.select(text.shingles(text.words(F.col("text"))).alias("sh")).collect()[0]["sh"]
    assert sh == []


def test_minhash_identical_docs_identical_signature(spark):
    df = _docs(spark, [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5")])
    sig = df.select(
        "doc_id",
        text.minhash_signature(text.shingles(text.words(F.col("text")))).alias("sig"),
    ).collect()
    sigs = {r["doc_id"]: r["sig"] for r in sig}
    assert sigs[1] == sigs[2]
    assert len(sigs[1]) == 8 and all(len(h) == 32 for h in sigs[1])


def test_minhash_near_dup_finds_mutation(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = _docs(spark, [(1, base), (2, base + " lambda"), (3, "совсем other unrelated words entirely different content here now ok")])
    pairs = text.minhash_near_dup_pairs(df, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_simhash_close_for_similar_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = _docs(spark, [(1, base), (2, base + " extra"), (3, "x1 y2 z3 q4 r5 s6 t7 u8 v9 w0")])
    out = {r["doc_id"]: r["simhash"] for r in text.simhash16(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(out[1], out[2]) < ham(out[1], out[3])
    assert out[1] == text.simhash16(df.filter("doc_id=1")).collect()[0]["simhash"]


def test_hamming16_expr(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], ["a", "b"])
    d = df.select(text.hamming16(F.col("a"), F.col("b")).alias("h")).collect()[0]["h"]
    assert d == 2


def test_jaccard_verify_exact_value(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "b c d e f")])
    cand = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    out = text.jaccard_verify(cand, df, threshold=0.0).collect()
    # shingles: {abc,bcd,cde} vs {bcd,cde,def}: |∩|=2 |∪|=4
    assert out[0]["jaccard"] == 0.5


def test_quality_metrics(spark):
    df = _docs(spark, [(1, "the cat sat on the mat with a hat today!!")])
    m = text.quality_metrics(df).collect()[0]
    assert m["n_words"] == 10
    assert m["stopword_ratio"] == 0.4  # the, on, the, a
    assert m["punct_ratio"] > 0
    assert 0 <= m["quality_score"] <= 1


def test_langid_english_vs_noise(spark):
    df = _docs(
        spark,
        [(1, "the quick brown fox is on the run"), (2, "zzz qqq xxx yyy www vvv")],
    )
    out = {r["doc_id"]: r["pred_lang"] for r in text.langid(df).collect()}
    assert out == {1: "en", 2: "unknown"}


def test_token_counts(spark):
    df = _docs(spark, [(1, "hello world42 foo-bar")])
    r = text.token_counts(df).collect()[0]
    assert r["ws_tokens"] == 3
    # hello | world | 42 | foo | - | bar
    assert r["re_tokens"] == 6


def test_fingerprint_order_sensitive(spark):
    df = _docs(spark, [(1, "a b c"), (2, "c b a"), (3, "a b c")])
    out = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(df).collect()}
    assert out[1] == out[3]
    assert out[1] != out[2]


# --- similarity -------------------------------------------------------------


def _vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [0.7, 0.7, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk_ranks_by_cosine(spark):
    v = _vectors(spark)
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], ["qid", "qvec"])
    out = similarity.brute_force_topk(v, q, k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 4]
    assert out[0]["cos"] > 0.99


def test_hyperplanes_deterministic():
    a = similarity.hyperplanes(8, 3)
    b = similarity.hyperplanes(8, 3)
    assert a == b
    assert all(x in (-1, 1) for row in a for x in row)


def test_lsh_bucket_scale_invariant(spark):
    planes = similarity.hyperplanes(3, 4)
    df = spark.createDataFrame(
        [(0, [0.5, -0.2, 0.8]), (1, [1.0, -0.4, 1.6])], ["vec_id", "embedding"]
    )
    out = df.select(similarity.lsh_bucket(F.col("embedding"), planes).alias("b")).collect()
    assert out[0]["b"] == out[1]["b"]  # scaled copy lands in the same bucket


def test_embedding_near_dup_pairs(spark):
    planes = similarity.hyperplanes(3, 2)
    rows = [
        (0, [1.0, 2.0, 3.0]),
        (100, [1.001, 2.002, 3.003]),  # scaled copy of 0
        (1, [-5.0, 0.1, 0.2]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.embedding_near_dup_pairs(df, planes, threshold=0.999).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(0, 100)]
    assert out[0]["cos"] == 1.0


def test_lsh_topk_subset_of_brute(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    planes = similarity.hyperplanes(64, 4)
    brute = similarity.brute_force_topk(embs, q, k=50).collect()
    ann = similarity.lsh_topk(embs, q, planes, k=5).collect()
    brute_ids = {r["vec_id"] for r in brute}
    # ANN results must be genuine vectors with correct cosine (subset of the
    # top-50 exact list is the recall check at this tiny scale)
    assert 1 <= len(ann) <= 5
    assert {r["vec_id"] for r in ann} <= brute_ids


# --- multimodal -------------------------------------------------------------


def test_multimodal_stub_features(spark):
    df = spark.createDataFrame([(1, "abc", 3)], ["doc_id", "text", "n_chars"])
    media = attach_media(df)
    row = media.collect()[0]
    assert bytes(row["media"]) == b"abc"
    assert row["meta"]["kind"] == "image"
    feats = extract_media_features(media).collect()[0]
    assert feats["n_bytes"] == 3
    assert feats["first_byte"] == ord("a")
    assert feats["checksum"] == (ord("a") + ord("b") + ord("c")) % 65536


def test_near_dup_clusters_chain(spark):
    # chain 1-2-3 plus isolated pair 10-11: two components, min-id labels
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    out = {r["doc_id"]: r["cluster"] for r in text.near_dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_sample_by_hash_deterministic(spark):
    df = spark.range(200).withColumnRenamed("id", "doc_id")
    a = sorted(r["doc_id"] for r in text.sample_by_hash(df, 30).collect())
    b = sorted(r["doc_id"] for r in text.sample_by_hash(df, 30).collect())
    assert a == b
    assert 0 < len(a) < 200
    # monotone: a higher rate keeps a superset
    c = sorted(r["doc_id"] for r in text.sample_by_hash(df, 60).collect())
    assert set(a) <= set(c)


def test_pack_token_bins_budget(spark):
    import pyspark.sql.functions as F

    rows = [(i, "s", 1000) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tok"])
    out = text.pack_token_bins(df, bin_tokens=4096)
    bins = {r["doc_id"]: r["bin"] for r in out.collect()}
    # 4 docs of 1000 tokens fit the first 4096-token bin (exclusive prefix)
    assert [bins[i] for i in range(10)] == [0, 0, 0, 0, 0, 1, 1, 1, 1, 2]


def test_pack_token_bins_shard_invariant(spark):
    """Two-phase prefix sum: result identical for any shard count, and the
    physical plan contains NO window partitioned by source alone (which would
    sort a whole source in one task at scale)."""
    import pyspark.sql.functions as F

    from loongcollector_spark.dataops import text

    rows = [(i, "s%d" % (i % 2), 100 + (i % 7) * 10) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tok"])
    a = text.pack_token_bins(df, 1000, n_shards=1)
    b = text.pack_token_bins(df, 1000, n_shards=7)
    ra = sorted((r["doc_id"], r["bin"]) for r in a.collect())
    rb = sorted((r["doc_id"], r["bin"]) for r in b.collect())
    assert ra == rb
    # exclusive prefix semantics: first doc of each source is bin 0
    first = [r for r in b.collect() if r["doc_id"] in (0, 1)]
    assert all(r["bin"] == 0 for r in first)
    # the big-data window must be keyed by (source, __pid__) — chunk-bounded
    # sort tasks; only the tiny per-chunk totals window is keyed by source
    plan = str(b._jdf.queryExecution().optimizedPlan())
    assert "__pid__" in plan


def test_multimodal_real_decode_roundtrips(spark):
    """PPM/WAV are REAL decoders (pure stdlib/numpy): encode→decode
    roundtrips the pixels and samples."""
    from loongcollector_spark.dataops import multimodal as mm

    ppm = mm.make_ppm(16, 8, 10, 20, 30)
    w, h, pix = mm.decode_ppm(ppm)
    assert (w, h) == (16, 8) and pix.shape == (8, 16, 3)
    assert (pix[0, 0] == [10, 20, 30]).all()

    wav = mm.make_wav(8000, 64, 250)
    rate, samples = mm.decode_wav(wav)
    assert rate == 8000 and len(samples) == 64
    assert samples[0] == 250 and samples[1] == -250


def test_multimodal_decode_features_distributed(spark):
    """decode_media_features dispatches per row on magic bytes inside one
    mapInPandas pass; unknown payloads degrade to nulls."""
    from loongcollector_spark.dataops import multimodal as mm

    rows = [
        (1, mm.make_ppm(4, 4, 200, 100, 50)),
        (2, mm.make_wav(16000, 10, 99)),
        (3, b"\x89PNG fake"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in mm.decode_media_features(df).collect()}
    assert out[1]["media_format"] == "ppm" and out[1]["mean_r"] == 200.0
    assert out[2]["media_format"] == "wav" and out[2]["sample_rate"] == 16000
    assert out[2]["rms"] == 99.0
    assert out[3]["media_format"] == "unknown" and out[3]["width"] is None


def test_kmeans_codebook_properties(spark, sf_dir):
    """k-means IVF codebook: deterministic across runs, and its mean
    intra-cell cosine beats the first-k stand-in codebook."""
    import pyspark.sql.functions as F

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    c1 = similarity.kmeans_centroids(embs, k=4, iters=2)
    c2 = similarity.kmeans_centroids(embs, k=4, iters=2)
    assert c1 == c2
    assert len(c1) == 4 and len(c1[0]) == len(c2[0])

    def mean_intra(cents):
        v = F.transform("embedding", lambda x: x.cast("double"))
        assigned = embs.withColumn("cell", similarity.argmax_cell(v, cents))
        best = None
        for i, c in enumerate(cents):
            lit = F.array(*[F.lit(float(x)) for x in c])
            cos_i = F.when(F.col("cell") == i, similarity.cosine(v, lit))
            best = cos_i if best is None else F.coalesce(best, cos_i)
        return assigned.agg(F.avg(best)).collect()[0][0]

    stand_in = [
        list(r["e"])
        for r in embs.select(
            F.transform("embedding", lambda x: x.cast("double")).alias("e")
        )
        .orderBy("vec_id")
        .limit(4)
        .collect()
    ]
    assert mean_intra(c1) >= mean_intra(stand_in) - 1e-9


def test_star_contraction_chain_converges_log_rounds(spark):
    """A 64-node chain has diameter 63 — min-label propagation needs ~63
    rounds, large-star/small-star must finish in O(log n) (< 10)."""
    from loongcollector_spark.dataops import text

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(100, 101), (200, 200)],
        ["id_a", "id_b"],
    )
    edges = pairs.selectExpr("CAST(id_a AS LONG) src", "CAST(id_b AS LONG) dst")
    labels, rounds = text.star_contraction_components(edges, max_rounds=15)
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert rounds < 10, rounds
    assert all(got[i] == 0 for i in range(n))
    assert got[100] == 100 and got[101] == 100
    assert 200 not in got  # self-loop only: no real edge

    # same clusters as the label-propagation default on a shallow graph
    lp = {
        (r["doc_id"], r["cluster"])
        for r in text.near_dup_clusters(pairs.filter("id_a < 10")).collect()
    }
    st = {
        (r["doc_id"], r["cluster"])
        for r in text.near_dup_clusters(
            pairs.filter("id_a < 10"), algorithm="star"
        ).collect()
    }
    assert lp == st


def test_mixture_sample_weights_and_epochs(spark):
    from loongcollector_spark.dataops.text import mixture_sample

    df = spark.createDataFrame(
        [(i, f"s{i % 2}") for i in range(2000)], "doc_id long, source string"
    )
    out = mixture_sample(df, {"s0": 0.25, "s1": 2.5}).groupBy("source").agg(
        F.count("*").alias("n"), F.max("epoch").alias("max_epoch")
    )
    rows = {r.source: r for r in out.collect()}
    # s0: ~25% of 1000 kept, epoch always 0
    assert 180 <= rows["s0"].n <= 320 and rows["s0"].max_epoch == 0
    # s1: 2 full epochs + ~50% third epoch of 1000 docs
    assert 2300 <= rows["s1"].n <= 2700 and rows["s1"].max_epoch == 2
    # determinism: same input -> identical output
    a = mixture_sample(df, {"s0": 0.25, "s1": 2.5}).collect()
    b = mixture_sample(df, {"s0": 0.25, "s1": 2.5}).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
