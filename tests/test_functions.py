"""Training-data pipeline operators: dedup, similarity, text, multimodal."""

import pytest
from pyspark.sql import functions as F

from bifrost_spark.functions.dedup import exact_dedup, minhash_lsh_candidates, simhash_fingerprints
from bifrost_spark.functions.multimodal import extract_features, frame_sample_plan, synthesize_media
from bifrost_spark.functions.similarity import brute_force_topk, lsh_bucketed_topk
from bifrost_spark.functions.text import document_stats, lang_id, quality_features, rolling_fingerprint_udf

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup(spark, docs):
    groups = exact_dedup(docs)
    assert groups.agg(F.sum("n_dups")).collect()[0][0] == docs.count()
    assert groups.filter(F.col("keep_id").isNull()).count() == 0


def test_minhash_lsh_finds_planted_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again with many words to shingle properly"
    rows = [(1, base), (2, base + " tail"), (3, "completely different content about spark shuffles and partitions everywhere"),
            (4, base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = minhash_lsh_candidates(df, min_jaccard=0.4).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand}
    assert (1, 4) in pairs  # exact dup always caught
    assert all(3 not in p for p in pairs)
    for r in cand:
        assert 0.0 <= r["est_jaccard"] <= 1.0 and r["jaccard"] >= 0.4


def test_minhash_poly_arrow_bit_parity(spark, docs):
    """The Arrow poly-MinHash kernel must be BIT-IDENTICAL to the SQL
    expression twin (shingles + minhash_signature) — the DuckDB oracle
    recomputes the expression semantics, so any drift here breaks the
    oracle gate silently."""
    from bifrost_spark.functions.dedup import _minhash_poly_arrow, minhash_signature, shingles

    edge = spark.createDataFrame(
        [(100001, None), (100002, ""), (100003, "one"), (100004, "two words"),
         (100005, "exactly three tokens"), (100006, "Ünïcode — stripped; digits 42 stay!"),
         (100007, "a a a a a a repeated token gram dedup check a a a")],
        "doc_id long, text string")
    sample = docs.limit(40).select("doc_id", "text").unionByName(edge)

    for n_gram, k, seed in [(3, 32, 1), (2, 16, 7)]:
        expr = sample.select(
            F.col("doc_id"),
            shingles(F.col("text"), n_gram, hash_fn="poly").alias("sh"),
        ).withColumn("sig", minhash_signature(F.col("sh"), k=k, seed=seed))
        kern = _minhash_poly_arrow(n_gram, k, seed)
        arrow = sample.select(F.col("doc_id"), kern(F.col("text")).alias("r")) \
                      .select("doc_id", F.col("r.sh").alias("sh"), F.col("r.sig").alias("sig"))
        e = {r["doc_id"]: (r["sh"], r["sig"]) for r in expr.collect()}
        a = {r["doc_id"]: (r["sh"], r["sig"]) for r in arrow.collect()}
        assert e == a


def test_minhash_lsh_impls_agree(spark, docs):
    """End-to-end: poly-mode candidate pairs identical under both impls."""
    sub = docs.limit(120)
    out_e = minhash_lsh_candidates(sub, min_jaccard=0.3, hash_fn="poly", signature_impl="expr")
    out_p = minhash_lsh_candidates(sub, min_jaccard=0.3, hash_fn="poly", signature_impl="pandas")
    assert sorted(map(tuple, out_e.collect())) == sorted(map(tuple, out_p.collect()))


def test_minhash_lsh_on_corpus(spark, docs):
    out = minhash_lsh_candidates(docs, min_jaccard=0.5)
    # deterministic: same result twice
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out.collect()))


def test_deterministic_sample_nested_and_stable(spark, docs):
    from bifrost_spark.functions.sampling import deterministic_sample

    q = deterministic_sample(docs, threshold_hex="4000")
    kept = {r["doc_id"] for r in q.select("doc_id").collect()}
    assert kept == {r["doc_id"] for r in q.select("doc_id").collect()}  # stable
    n = docs.count()
    assert 0 < len(kept) < n  # ~25%, loose bounds
    assert abs(len(kept) / n - 0.25) < 0.15
    # nested: tighter threshold is a strict subset
    tighter = {r["doc_id"] for r in
               deterministic_sample(docs, threshold_hex="2000").select("doc_id").collect()}
    assert tighter <= kept and len(tighter) < len(kept)
    # different salt draws a different sample
    other = {r["doc_id"] for r in
             deterministic_sample(docs, threshold_hex="4000", salt="s2").select("doc_id").collect()}
    assert other != kept


def test_training_mix(spark, docs):
    from bifrost_spark.functions.sampling import training_mix

    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    out = training_mix(docs, rates, strata_col="source", default_rate=0.25)
    per = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    src = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per["src0"] == src["src0"]          # rate 1.0 keeps everything
    assert "src2" not in per                   # rate 0.0 drops everything
    assert 0 < per["src1"] < src["src1"]       # fractional rate keeps some
    other = sum(v for k, v in per.items() if k not in rates)
    other_src = sum(v for k, v in src.items() if k not in rates)
    assert 0 < other < other_src               # default_rate applies to the rest
    # nested per stratum: raising src1's rate strictly grows its kept set
    kept_half = {r["doc_id"] for r in out.filter(F.col("source") == "src1").select("doc_id").collect()}
    wider = training_mix(docs, {"src0": 1.0, "src1": 0.9, "src2": 0.0},
                         strata_col="source", default_rate=0.25)
    kept_wide = {r["doc_id"] for r in wider.filter(F.col("source") == "src1").select("doc_id").collect()}
    assert kept_half < kept_wide
    # one scan-stage filter: no shuffle in the plan
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_common_ngrams(spark):
    from bifrost_spark.functions.text import common_ngrams

    boiler = "all rights reserved by the site"
    rows = [(1, f"unique alpha text one {boiler}"), (2, f"other beta words two {boiler}"),
            (3, f"third gamma body three {boiler}"), (4, "no shared content at all here whatsoever"),
            (5, None), (6, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["gram"]: r["n_docs"] for r in common_ngrams(df, n=3, min_docs=2, top=100).collect()}
    assert out["all rights reserved"] == 3
    assert out["rights reserved by"] == 3
    assert all(n >= 2 for n in out.values())
    assert not any("whatsoever" in g for g in out)  # unshared grams filtered
    # repeated gram inside ONE doc counts once (per-doc distinct)
    df2 = spark.createDataFrame([(1, "x y z x y z x y z"), (2, "x y z only once")],
                                "doc_id long, text string")
    out2 = {r["gram"]: r["n_docs"] for r in common_ngrams(df2, n=3, min_docs=2, top=10).collect()}
    assert out2["x y z"] == 2


def test_remove_boilerplate(spark):
    from bifrost_spark.functions.text import remove_boilerplate

    bl = ["all rights reserved", "terms of service"]
    rows = [
        (1, "real content here then All Rights Reserved and more content"),
        (2, "terms of service"),                       # fully covered
        (3, "no blocked phrases in this document"),
        (4, None),
        (5, "all rights reserved all rights reserved"),  # overlapping repeats
        (6, "short doc"),                               # len < n, not blocked
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_removed"])
           for r in remove_boilerplate(df, bl, n=3).collect()}
    assert got[1] == ("real content here then and more content", 3)
    assert got[2] == ("", 3)
    assert got[3] == ("no blocked phrases in this document", 0)
    assert got[4] == ("", 0)
    assert got[5] == ("", 6)
    assert got[6] == ("short doc", 0)


def test_common_ngrams_impls_agree(spark, docs):
    from bifrost_spark.functions.text import common_ngrams

    edge = spark.createDataFrame(
        [(900001, None), (900002, ""), (900003, "two words"), (900004, "Ünïcode 42 bits")],
        "doc_id long, text string")
    sample = docs.limit(60).select("doc_id", "text").unionByName(edge)
    for n in (2, 3):
        e = sorted(map(tuple, common_ngrams(sample, n=n, min_docs=1, top=10000, impl="expr").collect()))
        p = sorted(map(tuple, common_ngrams(sample, n=n, min_docs=1, top=10000, impl="pandas").collect()))
        assert e == p


def test_stratified_cap(spark, docs):
    from bifrost_spark.functions.sampling import stratified_cap

    out = stratified_cap(docs, strata_col="lang", cap=7)
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    src = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n_src in src.items():
        assert per[lang] == min(n_src, 7)
    ranks = [r["sample_rank"] for r in out.collect()]
    assert min(ranks) == 1 and max(ranks) <= 7


def test_near_dup_clusters_transitive(spark):
    from bifrost_spark.functions.dedup import near_dup_clusters

    # A~B, B~C but no A~C edge: clustering must still group all three.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r for r in near_dup_clusters(pairs).collect()}
    assert {out[i]["cluster_id"] for i in (1, 2, 3)} == {1}
    assert out[1]["is_canonical"] and not out[2]["is_canonical"]
    assert out[1]["cluster_size"] == 3
    assert out[10]["cluster_id"] == 10 and out[11]["cluster_id"] == 10
    assert out[10]["cluster_size"] == 2


def test_near_dup_clusters_long_chain(spark):
    from bifrost_spark.functions.dedup import near_dup_clusters

    # Path graph of 40 nodes (worst diameter for label propagation) plus
    # edges listed high-to-low: converges via path halving, one component.
    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(39)], "doc_a long, doc_b long"
    )
    rows = near_dup_clusters(pairs).collect()
    assert len(rows) == 40
    assert all(r["cluster_id"] == 0 and r["cluster_size"] == 40 for r in rows)
    assert sum(r["is_canonical"] for r in rows) == 1


def test_simhash_near_dup_have_close_fingerprints(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    rows = [(1, base), (2, base + " rho"), (3, "unrelated words entirely disjoint vocabulary set here now")]
    out = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(out[1], out[2]) < ham(out[1], out[3])


def test_brute_force_topk_self_similarity(spark, emb):
    q = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    out = brute_force_topk(emb, q, k=3)
    rows = out.collect()
    assert len(rows) == 5 * 3
    for r in rows:
        assert -1.0001 <= r["sim"] <= 1.0001
    # planted: a vector is its own nearest neighbor if duplicated
    dup = emb.limit(1).withColumn("vec_id", F.lit(99999).cast("long"))
    out2 = brute_force_topk(emb.unionByName(dup), emb.limit(1).withColumnRenamed("vec_id", "query_id"), k=1)
    assert out2.collect()[0]["neighbor_id"] == 99999


def test_lsh_topk_finds_planted_neighbors(spark, emb):
    # plant a scaled copy of each query vector: cosine = 1.0 and identical
    # hyperplane signs → guaranteed same LSH bucket in every table
    q = emb.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    planted = q.select(
        (F.col("query_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.000001)).alias("embedding"),
        F.lit(-1).alias("label"),
    )
    corpus = emb.unionByName(planted)
    out = lsh_bucketed_topk(corpus, q, dim=64, k=1, n_planes=8, n_tables=4)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    assert top1 == {i: i + 100000 for i in range(10)}

    # and on uniform random data the candidates it does return agree with
    # brute force on similarity values (sanity of the re-rank math)
    bf = {(r["query_id"], r["neighbor_id"]): r["sim"]
          for r in brute_force_topk(emb, q, k=50).collect()}
    for r in lsh_bucketed_topk(emb, q, dim=64, k=5, n_planes=8, n_tables=4).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert abs(bf[key] - r["sim"]) < 1e-9


def test_ivf_topk_finds_planted_neighbors(spark, emb):
    from bifrost_spark.functions.similarity import ivf_topk

    # a scaled copy has cosine 1.0 with its query → identical (rounded) cell
    # scores → assigned to the same IVF cell, so probing the query's own cell
    # must surface it as the top-1 neighbor
    q = emb.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    planted = q.select(
        (F.col("query_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.000001)).alias("embedding"),
        F.lit(-1).alias("label"),
    )
    corpus = emb.unionByName(planted)
    out = ivf_topk(corpus, q, k=1, n_centroids=8, n_probe=2)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    assert top1 == {i: i + 100000 for i in range(10)}

    # deterministic: same call twice → identical frames (hash-sampled
    # centroids, quantized cell argmax — no RNG anywhere)
    a = sorted(map(tuple, ivf_topk(emb, q, k=3, n_centroids=8, n_probe=2).collect()))
    b = sorted(map(tuple, ivf_topk(emb, q, k=3, n_centroids=8, n_probe=2).collect()))
    assert a == b

    # re-rank math agrees with brute force on shared candidates
    bf = {(r["query_id"], r["neighbor_id"]): r["sim"]
          for r in brute_force_topk(emb, q, k=50).collect()}
    hits = 0
    for r in ivf_topk(emb, q, k=5, n_centroids=8, n_probe=4).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            hits += 1
            assert abs(bf[key] - r["sim"]) < 1e-9
    assert hits > 0

    # Lloyd refinement (engine mode, not oracle-exact): the planted copy has
    # cosine 1.0 with its query under ANY centroid set, so top-1 still holds
    out_r = ivf_topk(corpus, q, k=1, n_centroids=8, n_probe=2, refine_iters=2)
    top1_r = {r["query_id"]: r["neighbor_id"] for r in out_r.collect()}
    assert top1_r == {i: i + 100000 for i in range(10)}


def test_text_quality_and_stats(spark, docs):
    qf = quality_features(docs)
    row = qf.agg(F.min("quality_score"), F.max("quality_score")).collect()[0]
    assert 0.0 <= row[0] <= row[1] <= 1.0
    ds = document_stats(docs)
    r = ds.filter(F.col("n_tokens") <= 0).count()
    assert r == 0
    assert ds.select("fingerprint").distinct().count() <= docs.count()


def test_lang_id_markers(spark):
    rows = [(1, "the cat and the dog is happy to see the sun"),
            (2, "el gato de la casa que los perros"),
            (3, "zzz qqq www")]
    out = {r["doc_id"]: r["pred_lang"] for r in lang_id(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_rolling_fingerprint_udf(spark):
    df = spark.createDataFrame([(1, "hello  world"), (2, "hello world"), (3, "other")], "id long, t string")
    out = {r["id"]: r["fp"] for r in df.select("id", rolling_fingerprint_udf("t").alias("fp")).collect()}
    assert out[1] == out[2] != out[3]  # whitespace-normalized


def test_multimodal_pipeline(spark):
    media = synthesize_media(spark, n=64)
    feats = extract_features(media, feature_dim=8)
    rows = feats.collect()
    assert len(rows) == 64
    for r in rows[:5]:
        assert len(r["feature"]) == 8 and all(0.0 <= x <= 1.0 for x in r["feature"])
        assert r["n_bytes"] > 0 and len(r["content_digest"]) == 64
    # deterministic across runs
    again = extract_features(synthesize_media(spark, n=64), feature_dim=8).collect()
    assert sorted(r["content_digest"] for r in rows) == sorted(r["content_digest"] for r in again)
    # stub raises where a codec would run
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        extract_features(media, decode_stub=False).collect()


def test_frame_sample_plan(spark):
    media = synthesize_media(spark, n=64)
    plan = frame_sample_plan(media, every_ms=1000)
    vids = media.filter(F.col("kind") == "video")
    joined = plan.groupBy("media_id").count().join(vids, "media_id")
    for r in joined.collect():
        assert r["count"] == max(r["duration_ms"] // 1000, 1)


def test_lsh_topk_dim768_plans_fast(spark):
    """The Arrow-matmul signature path must stay O(1) plan size at real
    embedding dims (768): planning + execution in seconds, where the
    literal-expression path would build ~23k Catalyst nodes."""
    import time

    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(768).astype(float).tolist()) for i in range(40)]
    emb768 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb768.filter(F.col("vec_id") < 4).withColumnRenamed("vec_id", "query_id")
    t0 = time.time()
    out = lsh_bucketed_topk(emb768, q, dim=768, k=3, n_planes=10, n_tables=3,
                            signature_impl="pandas")
    n = out.count()
    assert time.time() - t0 < 60
    assert n <= 4 * 3
    from bifrost_spark.functions.cache import release_caches
    release_caches()


def test_ivf_topk_dim768_plans_fast(spark):
    """IVF at real embedding dims: the dot products are F.aggregate lambdas
    over the array column — O(1) Catalyst nodes regardless of dim — and the
    centroid set is bounded; planning + execution must stay in seconds."""
    import time

    import numpy as np

    from bifrost_spark.functions.similarity import ivf_topk

    rng = np.random.RandomState(4)
    rows = [(i, rng.randn(768).astype(float).tolist()) for i in range(40)]
    emb768 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb768.filter(F.col("vec_id") < 4).withColumnRenamed("vec_id", "query_id")
    t0 = time.time()
    out = ivf_topk(emb768, q, k=3, n_centroids=8, n_probe=3)
    n = out.count()
    assert time.time() - t0 < 60
    assert n <= 4 * 3
    from bifrost_spark.functions.cache import release_caches
    release_caches()


def test_embedding_near_dup_pairs_planted(spark, emb):
    """Planted scaled copies (cosine 1.0, identical projection signs) must
    pair with their originals; random corpus pairs stay below threshold."""
    from bifrost_spark.functions.similarity import embedding_near_dup_pairs

    planted = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 50000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.0001)).alias("embedding"),
        F.lit(-1).alias("label"),
    )
    out = embedding_near_dup_pairs(
        emb.unionByName(planted), dim=64, threshold=0.99, n_planes=8, n_tables=4
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert {(i, i + 50000) for i in range(5)} <= pairs
    assert all(r["sim"] >= 0.99 for r in out)
    from bifrost_spark.functions.cache import release_caches
    release_caches()


def test_repetition_features_planted(spark):
    from bifrost_spark.functions.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),                      # one token repeated
            (2, "a b c d e f g h"),                          # all distinct
            (3, "x y x y x y x y"),                          # repeated bigram
            (4, ""),                                         # empty
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["top_token_fraction"] == 1.0
    assert out[1]["distinct_token_ratio"] == 0.25
    assert out[1]["dup_bigram_fraction"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[2]["distinct_token_ratio"] == 1.0 and out[2]["dup_bigram_fraction"] == 0.0
    # "x y x y ..." bigrams: [x y, y x, x y, y x, x y, y x, x y] → top = 4/7
    assert out[3]["top_bigram_fraction"] == pytest.approx(4 / 7, abs=1e-6)
    assert out[4]["n_tokens"] == 0 and out[4]["top_token_fraction"] == 0.0


def test_repetition_features_impl_parity(spark):
    """The Arrow-batched kernel (production default) and the higher-order-
    function expression twin (the engine-independent spec) must agree
    BIT-EXACTLY — same tokenization, same IEEE division, same rounding —
    on adversarial shapes: nulls, empties, unicode punctuation, single
    token, heavy repetition."""
    from bifrost_spark.functions.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "a b c d e f g h"),
            (3, "x y x y x y x y"),
            (4, ""),
            (5, None),
            (6, "ONE"),
            (7, "Héllo,  wörld!! 123 hello WORLD 123"),
            (8, "a" * 500 + " " + "b c " * 100),
        ],
        "doc_id long, text string",
    )
    a = repetition_features(df, impl="pandas")
    b = repetition_features(df, impl="expr")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    with pytest.raises(ValueError):
        repetition_features(df, impl="nope")


def test_contaminated_ids_matches_decontaminate(spark):
    """contaminated_ids (the sparse gate shape) must return exactly the
    doc_ids decontaminate flags as is_contaminated, in both hash modes."""
    from bifrost_spark.functions.decontam import contaminated_ids, decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            (1, "prefix words alpha beta gamma delta epsilon more tail here"),
            (2, "totally unrelated content with no benchmark overlap at all"),
            (3, "alpha beta gamma"),
            (4, "zz alpha beta gamma delta epsilon zeta yy"),
        ],
        "doc_id long, text string",
    )
    for mode in ("none", "xxhash64"):
        want = {r["doc_id"] for r in decontaminate(docs, bench, n=5, hash_fn=mode)
                .filter("is_contaminated").collect()}
        got = {r["doc_id"] for r in contaminated_ids(docs, bench, n=5, hash_fn=mode).collect()}
        assert got == want == {1, 4}
    with pytest.raises(ValueError):
        contaminated_ids(docs, bench, hash_fn="nope")


def test_pii_scrub_planted(spark):
    """PII regex family on planted positives + adversarial negatives; the
    fused scrub() must agree with the split pii_signals/redact_pii pair."""
    from bifrost_spark.functions.pii import pii_signals, redact_pii, scrub

    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+spam@mail.example.org or at work"),
            (2, "server 192.168.1.254 and 10.0.0.1 are up"),
            (3, "call +1-555-0199 or +44-207-9460"),
            (4, "a@b is not an email, 1.2.3 is not an ip, 555-0199 no cc"),
            (5, "v1.2.3.4 is NOT matched: no \\b between 'v' and '1'"),
            (6, ""),
            (7, "two mails x@y.io y@z.dev one ip 8.8.8.8 one tel +9-123-4567"),
        ],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r for r in pii_signals(df).collect()}
    assert (sig[1]["n_email"], sig[1]["n_ipv4"], sig[1]["n_phone"]) == (1, 0, 0)
    assert (sig[2]["n_email"], sig[2]["n_ipv4"]) == (0, 2)
    assert sig[3]["n_phone"] == 2
    assert not sig[4]["has_pii"]
    assert sig[5]["n_ipv4"] == 0 and not sig[5]["has_pii"]  # semver-safe
    assert not sig[6]["has_pii"]
    assert (sig[7]["n_email"], sig[7]["n_ipv4"], sig[7]["n_phone"]) == (2, 1, 1)

    red = {r["doc_id"]: r["text_redacted"] for r in redact_pii(df).collect()}
    assert red[1] == "reach me at <EMAIL> or at work"
    assert red[2] == "server <IP> and <IP> are up"
    assert red[3] == "call <PHONE> or <PHONE>"
    assert red[4] == df.collect()[3]["text"]  # negatives untouched
    assert red[7] == "two mails <EMAIL> <EMAIL> one ip <IP> one tel <PHONE>"

    fused = scrub(df).select("doc_id", "n_email", "n_ipv4", "n_phone",
                             "has_pii", "text_redacted")
    split = pii_signals(df).join(redact_pii(df), "doc_id")
    assert fused.exceptAll(split).count() == 0 and split.exceptAll(fused).count() == 0


def test_pii_scrub_no_shuffle_plan(spark):
    """scrub() must stay a scan-stage projection — no Exchange, no UDF."""
    import io
    from contextlib import redirect_stdout

    from bifrost_spark.functions.pii import scrub

    df = spark.createDataFrame([(1, "x@y.io")], "doc_id long, text string")
    buf = io.StringIO()
    with redirect_stdout(buf):
        scrub(df).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    # no Python in the row path (the scan line mentions Python only because
    # the TEST input comes from createDataFrame)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_planted(spark):
    from bifrost_spark.functions.decontam import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            (1, "prefix words alpha beta gamma delta epsilon more tail here"),  # contains a 5-window
            (2, "totally unrelated content with no benchmark overlap at all"),
            (3, "alpha beta gamma"),                                            # < 5 tokens: no windows
        ],
        "doc_id long, text string",
    )
    for mode in ("none", "xxhash64"):
        out = {r["doc_id"]: r for r in decontaminate(docs, bench, n=5, hash_fn=mode).collect()}
        assert out[1]["is_contaminated"] and out[1]["n_contaminated"] == 1  # one shared 5-window
        assert not out[2]["is_contaminated"] and out[2]["n_contaminated"] == 0
        assert out[3]["n_windows"] == 0 and not out[3]["is_contaminated"]
        assert out[3]["contamination_ratio"] == 0.0


def test_decontaminate_benchmark_broadcasts(spark):
    """The benchmark gram set must reach the probe as a broadcast — a
    shuffled join here would exchange the full corpus gram stream."""
    from bifrost_spark.functions.decontam import decontaminate

    bench = spark.createDataFrame([(0, "a b c d e f")], "doc_id long, text string")
    docs = spark.range(100).selectExpr("id AS doc_id", "'a b c d e f g h' AS text")
    plan = decontaminate(docs, bench, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_lsh_signature_auto_picks_by_plan_size(spark):
    """Round-3 bench regression guard: "auto" must take the codegen literal
    path at small dims (Arrow worker spin-up dominates there) and the O(1)-
    plan pandas path at real embedding dims — and both impls must produce
    identical top-k results where they overlap."""
    import numpy as np

    from bifrost_spark.functions.cache import release_caches
    from bifrost_spark.functions.similarity import (
        AUTO_EXPR_MAX_NODES,
        _pick_signature_impl,
        hyperplanes,
        lsh_bucketed_topk,
    )

    assert _pick_signature_impl("auto", hyperplanes(64, 8, 2)) == "expr"    # 1024 nodes
    assert _pick_signature_impl("auto", hyperplanes(768, 10, 3)) == "pandas"  # 23040 nodes
    assert _pick_signature_impl("expr", hyperplanes(768, 10, 3)) == "expr"  # explicit wins
    assert 64 * 8 * 2 <= AUTO_EXPR_MAX_NODES < 768 * 10 * 3

    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(64).astype(float).tolist()) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")

    def run(impl):
        out = lsh_bucketed_topk(emb, q, dim=64, k=3, n_planes=8, n_tables=2,
                                seed=7, signature_impl=impl)
        rows = sorted(tuple(r) for r in out.collect())
        release_caches()
        return rows

    assert run("expr") == run("pandas") == run("auto")


def test_pure_python_xxh64_matches_spark(spark):
    """bifrost_spark.xxh64 is the oracle-side twin of the JVM intrinsic —
    every length class of the XXH64 spec (empty, <4, <8, 8-31, >=32 bytes),
    unicode, the long variant, and the chained-seed form Spark uses for
    banding must be bit-equal."""
    from bifrost_spark.xxh64 import xxh64, xxh64_long, xxh64_str

    strs = ["", "a", "abc", "x" * 7, "y" * 8, "z" * 31, "w" * 32, "v" * 100,
            "café 中文 🎉", "the quick brown fox"]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    for r in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert r["h"] == xxh64_str(r["s"]), repr(r["s"])
    longs = [0, 1, -1, 2**40, -(2**40), 2**63 - 1, -(2**63)]
    dfl = spark.createDataFrame([(v,) for v in longs], "v long")
    for r in dfl.select("v", F.xxhash64("v").alias("h")).collect():
        assert r["h"] == xxh64_long(r["v"]), r["v"]
    # chained form (multi-arg xxhash64: each arg hashed with the running
    # result as seed) — what the engine's band-bucket hash evaluates
    dfc = spark.createDataFrame([(s, 3) for s in strs], "s string, b long")
    for r in dfc.select("s", F.xxhash64("s", "b").alias("h")).collect():
        exp = xxh64((3).to_bytes(8, "little"), seed=xxh64_str(r["s"]) & ((1 << 64) - 1))
        assert r["h"] == exp, repr(r["s"])


def test_minhash_xx_oracle_twin_matches_engine(spark):
    """The Spark-free xx-mode MinHash twin (pure-Python XXH64 + numpy
    signatures + slice banding) must reproduce the engine's candidate set
    AND values exactly — this is the independence argument behind the
    dedup_minhash_lsh_xx driver oracle."""
    import pandas as pd

    from bifrost_spark.functions.cache import release_caches
    from bifrost_spark.functions.dedup import minhash_lsh_candidates
    from bifrost_spark.oracle_dedup import minhash_lsh_candidates_xx_oracle

    docs_path = "/root/testdata/sf0.001/documents.parquet"
    eng = (
        minhash_lsh_candidates(spark.read.parquet(docs_path), text_col="text",
                               id_col="doc_id", hash_fn="xxhash64", seed=1)
        .toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    release_caches()
    twin = (
        minhash_lsh_candidates_xx_oracle(pd.read_parquet(docs_path))
        .sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    assert len(eng) == len(twin) and len(eng) > 0
    assert eng[["doc_a", "doc_b"]].astype("int64").equals(twin[["doc_a", "doc_b"]])
    assert (eng["est_jaccard"] == twin["est_jaccard"]).all()
    assert (eng["jaccard"] == twin["jaccard"]).all()


def test_pq_topk_matches_numpy_reference(spark, emb):
    """pq_topk vs a sequential numpy recompute of the exact spec: same
    multiplicative-hash codebook sample, same subspace slicing, same
    integer-quantized squared-L2 (round(sq*1e6) as int64, ties to lowest
    code), same ADC integer sums, same (adist asc, neighbor asc) top-k."""
    import numpy as np

    from bifrost_spark.functions.similarity import pq_topk

    m, n_codes, k, dim = 4, 16, 5, 64
    d = dim // m
    M = (1 << 31) - 1

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    V = np.array([[float(x) for x in r["embedding"]] for r in rows], dtype=np.float64)
    # exact key incl. the outer pmod (ids are small here so no wrap, but
    # compute it anyway to mirror the engine)
    key = ((ids % M) * 2654435761 + 12345) % M
    order = np.lexsort((ids, key))
    samp = order[:n_codes]
    # codebook[c, s] = subvector s of sampled row c (code ids are 1-based)
    cb = V[samp].reshape(n_codes, m, d)

    def quant(a, b):  # integer-quantized squared L2, per subspace
        return np.round(((a - b) ** 2).sum(axis=-1) * 1e6).astype(np.int64)

    # encode: codes[i, s] = argmin_c quant(V[i,s], cb[c,s]), tie -> lowest c
    codes = np.empty((len(ids), m), dtype=np.int64)
    for s in range(m):
        dq = np.stack([quant(V[:, s * d:(s + 1) * d], cb[c, s]) for c in range(n_codes)])
        codes[:, s] = dq.argmin(axis=0)  # argmin takes the FIRST min = lowest c
    qmask = ids < 20
    expected = {}
    for qi in np.where(qmask)[0]:
        lut = np.stack([quant(V[qi, s * d:(s + 1) * d], cb[:, s]) for s in range(m)])
        adist = np.array([lut[s][codes[:, s]] for s in range(m)]).sum(axis=0)
        cand = [(int(adist[j]), int(ids[j])) for j in range(len(ids)) if ids[j] != ids[qi]]
        cand.sort()
        for rank, (ad, nid) in enumerate(cand[:k], 1):
            expected[(int(ids[qi]), nid)] = (rank, ad)

    q = emb.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    got = {(r["query_id"], r["neighbor_id"]): (r["rank"], r["adist"])
           for r in pq_topk(emb, q, dim=dim, k=k, m=m, n_codes=n_codes).collect()}
    assert got == expected

    # exact duplicate: identical codes -> adist ties with the original's
    # self-distance 0 per subspace against its own codes? not necessarily 0,
    # but a BYTE-IDENTICAL copy must tie the original's adist exactly and
    # appear adjacent by the neighbor-id tie-break
    dup = emb.limit(1).withColumn("vec_id", F.lit(99999).cast("long"))
    q1 = emb.limit(1).withColumnRenamed("vec_id", "query_id")
    out = pq_topk(emb.unionByName(dup), q1, dim=dim, k=2, m=m, n_codes=n_codes).collect()
    assert any(r["neighbor_id"] == 99999 and r["rank"] == 1 for r in out)

    # rerank=True returns the shared _rerank_topk contract
    rr = pq_topk(emb, q, dim=dim, k=3, m=m, n_codes=n_codes, rerank=True)
    assert set(rr.columns) >= {"query_id", "neighbor_id", "rank", "sim"}
    assert rr.count() == 20 * 3


def test_ivfpq_topk_matches_numpy_reference(spark, emb):
    """ivfpq_topk vs a sequential numpy recompute composing both specs:
    IVF candidates (hash-sampled centroids, round-6 cosine, argmax cell
    ties-to-lowest, top-n_probe cells) filtered through PQ ADC ranking
    (integer-quantized LUT sums) — full-frame equality."""
    import numpy as np

    from bifrost_spark.functions.similarity import ivfpq_topk

    m, n_codes, k, dim, n_centroids, n_probe = 4, 16, 5, 64, 16, 4
    d = dim // m
    M = (1 << 31) - 1

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    V = np.array([[float(x) for x in r["embedding"]] for r in rows], dtype=np.float64)
    key = ((ids % M) * 2654435761 + 12345) % M
    order = np.lexsort((ids, key))

    # ---- IVF half: candidates
    cents = V[order[:n_centroids]]           # centroid_id = 1-based position
    norms = np.sqrt((V ** 2).sum(axis=1))
    cn = np.sqrt((cents ** 2).sum(axis=1))
    csim = np.round(V @ cents.T / np.outer(norms, cn), 6)
    # argmax with ties to LOWEST centroid id == first max
    cell = csim.argmax(axis=1)
    qidx = np.where(ids < 20)[0]
    cand = {}
    for qi in qidx:
        probe = np.lexsort((np.arange(n_centroids), -csim[qi]))[:n_probe]
        members = np.isin(cell, probe) & (ids != ids[qi])
        cand[int(ids[qi])] = set(ids[members].tolist())

    # ---- PQ half: codes + ADC (same spec as test_pq_topk...)
    cb = V[order[:n_codes]].reshape(n_codes, m, d)

    def quant(a, b):
        return np.round(((a - b) ** 2).sum(axis=-1) * 1e6).astype(np.int64)

    codes = np.empty((len(ids), m), dtype=np.int64)
    for s in range(m):
        dq = np.stack([quant(V[:, s * d:(s + 1) * d], cb[c, s]) for c in range(n_codes)])
        codes[:, s] = dq.argmin(axis=0)

    expected = {}
    for qi in qidx:
        lut = np.stack([quant(V[qi, s * d:(s + 1) * d], cb[:, s]) for s in range(m)])
        adist = np.array([lut[s][codes[:, s]] for s in range(m)]).sum(axis=0)
        pool = sorted((int(adist[j]), int(ids[j])) for j in range(len(ids))
                      if int(ids[j]) in cand[int(ids[qi])])
        for rank, (ad, nid) in enumerate(pool[:k], 1):
            expected[(int(ids[qi]), nid)] = (rank, ad)

    q = emb.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    got = {(r["query_id"], r["neighbor_id"]): (r["rank"], r["adist"])
           for r in ivfpq_topk(emb, q, dim=dim, k=k, n_centroids=n_centroids,
                               n_probe=n_probe, m=m, n_codes=n_codes).collect()}
    assert got == expected


def test_pq_refinement_reduces_quantization_error(spark, emb):
    """refine_iters>0 is the production recall knob: each per-subspace
    Lloyd step must not increase total quantization error (k-means descent
    property), and the refined codebook still encodes deterministically."""
    from bifrost_spark.functions.similarity import _as_double, _pq_parts

    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   _as_double(F.col("embedding")).alias("cv"))
    qs = emb.select(F.col("vec_id").alias("query_id"),
                    _as_double(F.col("embedding")).alias("qv"))

    def err(refine):
        # build the index, then measure the total chosen-code distance: the
        # LUT over the WHOLE corpus as queries carries dq for every
        # (vec, sub, code), so joining it to the assignment on aliased
        # frames sums exactly the quantization error encode() minimized
        enc, lut = _pq_parts(c, qs, dim=64, m=4, n_codes=8,
                             query_id_col="query_id", refine_iters=refine)
        e = enc.select(F.col("neighbor_id").alias("id"),
                       F.col("sub").alias("s"), F.col("code").alias("cd"))
        l = lut.select(F.col("query_id").alias("id"),
                       F.col("sub").alias("s"), F.col("code").alias("cd"), "dq")
        return e.join(l, ["id", "s", "cd"]).agg(F.sum("dq")).collect()[0][0]

    e0, e1 = err(0), err(1)
    assert e1 <= e0, (e1, e0)
