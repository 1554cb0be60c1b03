"""Invariant tests for the extension-layer operators (dedup, similarity,
text analysis, multimodal plumbing) that have no SQL oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from ups_crossref_etl_spark.operators import dedup, multimodal, similarity, text_analysis as ta


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat again and again"),  # near dup of 1
        (4, "completely different text about spark query engines and joins"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, schema=["doc_id", "text"])


def test_exact_dedup_keeps_min_id(spark):
    d = _docs(spark)
    kept = dedup.exact_dedup(d, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4, 5]
    groups = dedup.exact_dup_groups(d, "text", "doc_id").collect()
    assert len(groups) == 1 and groups[0]["keeper_id"] == 1 and groups[0]["n_dups"] == 2


def test_minhash_identical_docs_always_candidates(spark):
    d = _docs(spark).filter(F.col("doc_id") != 5)
    cand = dedup.minhash_lsh_candidates(d, "text", "doc_id", num_hashes=32, bands=8)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (1, 2) in pairs  # identical signatures must collide in every band


def test_minhash_dedup_drops_verified_dup(spark):
    d = _docs(spark).filter(F.col("doc_id") != 5)
    kept = dedup.minhash_dedup(d, "text", "doc_id", num_hashes=32, bands=8,
                              jaccard_threshold=0.99)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert 1 in ids and 2 not in ids and 4 in ids


def test_jaccard_bounds(spark):
    d = _docs(spark).filter(F.col("doc_id").isin(1, 2, 3, 4))
    cand = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"])
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(d, cand, "text", "doc_id", threshold=0.0).collect()
    }
    assert out[(1, 2)] == 1.0
    assert 0.0 < out[(1, 3)] < 1.0
    assert out[(1, 4)] < out[(1, 3)]


def test_simhash_close_texts_small_hamming(spark):
    d = _docs(spark).filter(F.col("doc_id").isin(1, 2, 3, 4))
    cand = dedup.simhash_candidates(d, "text", "doc_id")
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in cand.collect()}
    assert ham[(1, 2)] == 0  # identical text → identical simhash
    if (1, 3) in ham and (1, 4) in ham:
        assert ham[(1, 3)] <= ham[(1, 4)]


def test_brute_force_topk_self_first(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    top = similarity.brute_force_topk(emb, q, k=3).collect()
    assert top[0]["vec_id"] == 7 and abs(top[0]["cos_sim"] - 1.0) < 1e-6


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in similarity.brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.lsh_topk(emb, q, k=10).collect()]
    # probe vector itself must be found; recall sanity ≥ 0.3 on synthetic data
    assert 0 in approx
    assert len(set(exact) & set(approx)) >= 3


def test_detect_language_markers(spark):
    df = spark.createDataFrame(
        [("the cat is in the house and that is fine",),
         ("el perro y la casa de los vecinos",),
         ("zzz qqq xxx",)],
        schema=["text"],
    )
    out = [r["lg"] for r in df.select(ta.detect_language(F.col("text")).alias("lg")).collect()]
    assert out == ["en", "es", "und"]


def test_token_count_edges(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("   ",)], schema=["text"])
    out = [r["n"] for r in df.select(ta.token_count(F.col("text")).alias("n")).collect()]
    assert out == [3, 0, 0]


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([("alpha beta gamma",), ("gamma beta alpha",)], ["text"])
    fps = [r["fp"] for r in df.select(ta.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] != fps[1]  # rolling hash must be order-sensitive


def test_quality_score_ranges(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = docs.select(ta.quality_score(F.col("text")).alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).first()
    assert 0.0 <= stats["lo"] <= stats["hi"] <= 1.0


def test_multimodal_fake_pipeline(spark):
    rows = [
        (1, "image", "image/png", bytearray(b"\x89PNG" + b"x" * 64), 10, 10, None, None),
        (2, "video", "video/mp4", bytearray(b"\x00mp4" + b"y" * 64), 64, 48, 3500, None),
        (3, "image", "image/png", None, None, None, None, None),
    ]
    from ups_crossref_etl_spark.schemas import media_schema

    df = spark.createDataFrame(rows, schema=media_schema)
    feats = multimodal.extract_features(df, fake=True).collect()
    assert {r["asset_id"] for r in feats} == {1, 2, 3}
    by_id = {r["asset_id"]: r for r in feats}
    assert by_id[1]["decode_ok"] and not by_id[3]["decode_ok"]
    assert len(by_id[1]["feat"]) == 8

    frames = multimodal.sample_frames(df, every_ms=1000, fake=True).collect()
    assert {r["frame_idx"] for r in frames} == {0, 1, 2}  # 3500ms → 3 frames

    stats = multimodal.media_stats(df).collect()
    assert sum(r["n_assets"] for r in stats) == 3


def test_multimodal_real_decode_raises(spark):
    from ups_crossref_etl_spark.schemas import media_schema

    df = spark.createDataFrame(
        [(1, "image", "image/png", bytearray(b"x"), None, None, None, None)],
        schema=media_schema,
    )
    import pytest

    with pytest.raises(Exception, match="NotImplementedError|decode"):
        multimodal.extract_features(df, fake=False).collect()


def test_ivf_topk_recall(spark, sf_dir):
    from ups_crossref_etl_spark.operators import ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    centroids = ivf.kmeans_fit(emb, k=8, max_iter=3)
    assert centroids.shape == (8, 64)
    exact = [r["vec_id"] for r in similarity.brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf.ivf_topk(emb, q, centroids, k=10, nprobe=3).collect()]
    assert 0 in approx  # the probe vector itself must be found
    assert len(set(exact) & set(approx)) >= 3


def test_kmeans_deterministic(spark, sf_dir):
    from ups_crossref_etl_spark.operators import ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1 = ivf.kmeans_fit(emb, k=4, max_iter=2)
    c2 = ivf.kmeans_fit(emb, k=4, max_iter=2)
    assert (c1 == c2).all()


def test_approx_aggregates_within_bounds(spark, sf_dir):
    from ups_crossref_etl_spark.plans.registry import load_all

    r = load_all()["q_approx_aggregates"].fn(spark, sf_dir).first()
    assert r["approx_parts_within_5pct"] is True
    assert r["approx_median_within_p40_p60"] is True
    assert r["exact_parts"] > 0 and r["exact_median_price"] > 0


# ---- simhash blocking recall + minhash bucket cap (round-2 hardening) ----

NATO = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
        "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
        "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey", "xray"]


def _variant_docs(spark):
    """25 deterministic single-word variants of a 24-word base text; their
    simhashes land at a spread of pairwise hamming distances (xxhash64 is
    deterministic, so the distances are pinned — (17, 18) sits at 6)."""
    rows = [(0, " ".join(NATO))]
    for i in range(1, 25):
        w = list(NATO)
        w[i % len(w)] = w[i % len(w)] + "zz" + str(i)
        rows.append((i, " ".join(w)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_block_spans_cover_all_64_bits():
    for blocks in (1, 4, 7, 9, 13, 64):
        spans = dedup._block_spans(64, blocks)
        assert len(spans) == blocks
        covered = [s for start, width in spans for s in range(start, start + width)]
        assert covered == list(range(64))  # contiguous, disjoint, complete


def test_simhash_blocks9_guarantees_hamming8_recall(spark):
    import itertools

    d = _variant_docs(spark)
    sh = {r["_id"]: r["_sh"] for r in dedup.simhash_table(d, "text", "doc_id").collect()}
    ham = {
        (a, b): bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
        for a, b in itertools.combinations(sorted(sh), 2)
    }
    assert ham[(17, 18)] == 6  # the planted mid-range pair (4 < h <= 8)
    within8 = {p for p, h in ham.items() if h <= 8}
    assert len(within8) >= 10
    cand = dedup.simhash_candidates(d, "text", "doc_id", blocks=9)
    got = {(r["id_a"], r["id_b"]) for r in cand.collect() if r["hamming"] <= 8}
    # pigeonhole guarantee: blocks=9 must surface EVERY pair with hamming <= 8
    assert within8 <= got


def test_minhash_bucket_cap_bounds_candidates(spark):
    # degenerate corpus: every doc identical -> every band bucket has n docs
    n = 200
    text = "spark spark spark the one true boilerplate template text body here"
    d = spark.createDataFrame([(i, text) for i in range(n)], ["doc_id", "text"])
    capped = dedup.minhash_lsh_candidates(
        d, "text", "doc_id", num_hashes=16, bands=4, max_bucket_size=50
    )
    assert capped.count() == 0  # mega-buckets dropped, no quadratic pair set
    uncapped = dedup.minhash_lsh_candidates(
        d, "text", "doc_id", num_hashes=16, bands=4, max_bucket_size=None
    )
    assert uncapped.count() == n * (n - 1) // 2


def test_pairwise_top_within_label_lsh_blocking(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        r["lbl"]: (r["id_a"], r["id_b"], r["cos_sim"])
        for r in similarity.pairwise_topk_within_label(emb).collect()  # default cap: exact path
    }
    assert len(exact) == 10  # one row per label
    # force every group down the LSH-blocked path (cap=0)
    lsh = {
        r["lbl"]: (r["id_a"], r["id_b"], r["cos_sim"])
        for r in similarity.pairwise_topk_within_label(emb, group_size_cap=0).collect()
    }
    for lbl, (ia, ib, cs) in lsh.items():
        assert cs <= exact[lbl][2]  # LSH path can't beat the exact top-1
    # LSH buckets preserve high-cosine pairs: the true top-1 is recovered
    # for a clear majority of the 10 labels on this fixture
    hits = sum(1 for lbl in exact if lsh.get(lbl) == exact[lbl])
    assert hits >= 7


def test_pairwise_top_label_guarantee_and_dim_inference(spark):
    # 3 labels, tiny vectors (dim=4, NOT 64): every label with >=2 members
    # must yield a row even when forced down the large-group path, and dim
    # must be inferred from the data rather than assumed 64.
    rows = [
        ("a", 1, [1.0, 0.0, 0.0, 0.0]),
        ("a", 2, [0.9, 0.1, 0.0, 0.0]),
        ("a", 3, [0.0, 1.0, 0.0, 0.0]),
        ("b", 4, [0.0, 0.0, 1.0, 0.0]),
        ("b", 5, [0.0, 0.0, 0.9, 0.1]),
        ("c", 6, [0.5, 0.5, 0.0, 0.0]),  # singleton: no pair possible
    ]
    emb = spark.createDataFrame(rows, schema=["label", "vec_id", "embedding"])
    out = {
        r["lbl"]: (r["id_a"], r["id_b"])
        for r in similarity.pairwise_topk_within_label(
            emb, group_size_cap=0  # force every group through the LSH+fallback path
        ).collect()
    }
    assert set(out) == {"a", "b"}  # every >=2-member label has a row; no 'c'
    assert out["a"] == (1, 2) and out["b"] == (4, 5)  # fallback finds the true top-1


def test_fingerprint_md5_variant_matches_rolling_structure(spark):
    d = _docs(spark)
    fp = d.select(
        "doc_id",
        ta.fingerprint(F.col("text")).alias("fp_xx"),
        ta.fingerprint(F.col("text"), token_hash="md5_48").alias("fp_md5"),
    ).collect()
    by_id = {r["doc_id"]: r for r in fp}
    # exact-dup docs agree under both hashes; near-dup docs differ
    assert by_id[1]["fp_xx"] == by_id[2]["fp_xx"]
    assert by_id[1]["fp_md5"] == by_id[2]["fp_md5"]
    assert by_id[1]["fp_md5"] != by_id[3]["fp_md5"]
    assert by_id[5]["fp_md5"] == 0  # empty text -> init value
    for r in fp:  # all values inside [0, mod)
        assert 0 <= r["fp_md5"] < 2_147_483_647


def test_connected_components_transitive_chain(spark):
    from ups_crossref_etl_spark.operators.graph import connected_components

    # chain 1-2-3-4 plus disjoint pair 10-11: labels must propagate
    # transitively (4 -> 1 even though (1,4) is not an edge)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], schema=["src", "dst"]
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_minhash_dedup_transitive_collapses_chain(spark):
    # A~B and B~C verified near-dups but A,C farther apart: transitive
    # closure keeps only A, while the single-hop variant may keep C.
    base = "the quick brown fox jumps over the lazy dog again and again extra words here"
    rows = [
        (1, base),
        (2, base + " tail"),
        (3, base + " tail tail2 tail3"),
        (4, "completely unrelated text about spark catalyst optimizer internals"),
    ]
    d = spark.createDataFrame(rows, schema=["doc_id", "text"])
    kept = dedup.minhash_dedup_transitive(
        d, "text", "doc_id", num_hashes=32, bands=16, jaccard_threshold=0.5
    )
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert 1 in ids and 4 in ids
    clusters = dedup.near_dup_clusters(
        d, "text", "doc_id", num_hashes=32, bands=16, jaccard_threshold=0.5
    ).collect()
    comp = {r["node"]: r["component"] for r in clusters}
    # every clustered doc maps to the min id of its component
    assert all(c == 1 for n, c in comp.items() if n in (1, 2, 3))


# ---- training-pipeline sampling operators (round 3) ----


def test_split_assign_stable_under_corpus_growth(spark):
    """The defining property of the hash split: a doc's split is a pure
    function of (seed, key), so growing the corpus never reassigns
    existing docs (no train/eval contamination between snapshots)."""
    from ups_crossref_etl_spark.operators.sampling import split_assign

    small = spark.range(0, 200).withColumnRenamed("id", "k")
    big = spark.range(0, 1000).withColumnRenamed("id", "k")
    s_small = {r["k"]: r["split"] for r in split_assign(small, "k").collect()}
    s_big = {r["k"]: r["split"] for r in split_assign(big, "k").collect()}
    assert all(s_big[k] == v for k, v in s_small.items())
    # all three splits materialize and roughly respect 90/5/5
    from collections import Counter

    c = Counter(s_big.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > 800


def test_pack_sequences_budget_property(spark):
    """Concat-and-chunk: cum_tokens is monotone per partition and each
    doc's bin is the budget window its span starts in — so a bin's total
    overshoots the budget by at most one doc."""
    from ups_crossref_etl_spark.operators.sampling import pack_sequences

    rows = [("a", i, 100 + (i % 7) * 50) for i in range(40)] + [
        ("b", i, 500) for i in range(10)
    ]
    df = spark.createDataFrame(rows, schema=["src", "doc_id", "n_tok"])
    out = pack_sequences(df, "n_tok", "doc_id", budget=1000, part_col="src").collect()
    for r in out:
        assert r["pack_bin"] == (r["cum_tokens"] - r["n_tok"]) // 1000
    by_src_bin = {}
    for r in out:
        by_src_bin.setdefault((r["src"], r["pack_bin"]), []).append(r["n_tok"])
    for (_, _bin), toks in by_src_bin.items():
        assert sum(toks) <= 1000 + max(toks)  # overshoot bounded by one doc


def test_domain_mix_rates_and_determinism(spark):
    from ups_crossref_etl_spark.operators.sampling import domain_mix

    rows = [(f"d{i % 3}", i) for i in range(300)]
    df = spark.createDataFrame(rows, schema=["dom", "k"])
    kept = domain_mix(
        df, "dom", "k", {"d0": 0.5, "d1": 0.5}, total_budget=40
    )
    got = kept.collect()
    assert {r["dom"] for r in got} <= {"d0", "d1"}  # d2 dropped
    # rate = min(1, 0.5*40/100) = 0.2 -> ~20 of 100 per domain kept
    from collections import Counter

    c = Counter(r["dom"] for r in got)
    assert 8 <= c["d0"] <= 32 and 8 <= c["d1"] <= 32
    again = Counter(r["dom"] for r in domain_mix(
        df, "dom", "k", {"d0": 0.5, "d1": 0.5}, total_budget=40
    ).collect())
    assert c == again  # bit-for-bit reproducible


def test_chunk_spans_cover_and_overlap(spark):
    """Chunks tile the doc: first starts at 0, consecutive starts differ
    by stride, the last chunk ends exactly at n_tok, and every non-final
    chunk is exactly chunk_size long."""
    from ups_crossref_etl_spark.operators.sampling import chunk_spans
    from pyspark.sql import functions as F

    rows = [(1, 10), (2, 512), (3, 513), (4, 2000), (5, 64)]
    df = spark.createDataFrame(rows, schema=["doc_id", "n_tok"])
    out = chunk_spans(df, F.col("n_tok"), chunk_size=512, overlap=64).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_tok = dict(rows)
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        assert chunks[0]["chunk_start"] == 0
        for a, b in zip(chunks, chunks[1:]):
            assert b["chunk_start"] - a["chunk_start"] == 448
            assert a["chunk_len"] == 512
        last = chunks[-1]
        assert last["chunk_start"] + last["chunk_len"] == n_tok[doc]
        assert last["chunk_len"] > 64 or len(chunks) == 1
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 1
    assert len(by_doc[3]) == 2 and len(by_doc[4]) == 5


def test_incremental_dedup_drops_exact_and_near(spark):
    from ups_crossref_etl_spark.operators.dedup import incremental_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    corpus = spark.createDataFrame(
        [(1, base), (2, "totally different corpus text about query planners")],
        schema=["doc_id", "text"],
    )
    incoming = spark.createDataFrame(
        [
            (10, base),                      # exact dup of corpus doc 1
            (11, base + " appended tail"),   # near dup of corpus doc 1
            (12, "fresh unseen content with brand new shingles entirely"),
        ],
        schema=["doc_id", "text"],
    )
    surv = incremental_dedup(
        incoming, corpus, "text", "doc_id",
        num_hashes=32, bands=16, jaccard_threshold=0.5,
    )
    assert [r["doc_id"] for r in surv.collect()] == [12]
    # corpus is never mutated; running again is idempotent
    again = incremental_dedup(
        surv, corpus, "text", "doc_id",
        num_hashes=32, bands=16, jaccard_threshold=0.5,
    )
    assert again.count() == 1


def test_scalar_quantize_roundtrip_error_bound(spark):
    from ups_crossref_etl_spark.operators.similarity import scalar_quantize
    from pyspark.sql import functions as F

    rows = [(i, [((i * 7 + j * 13) % 101 - 50) / 25.0 for j in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, schema=["vec_id", "embedding"])
    q = scalar_quantize(df, "embedding", "vec_id", bits=8)
    got = q.collect()
    assert all(max(abs(c) for c in r["qvec"]) <= 127 for r in got)
    # dequantization error is bounded by scale/2 per dimension
    joined = df.join(q, "vec_id").select(
        F.max(
            F.array_max(
                F.expr(
                    "transform(embedding, (x, i) -> "
                    "abs(cast(x as double) - qvec[i] * scales[i]) - scales[i] / 2)"
                )
            )
        ).alias("worst")
    ).first()
    assert joined["worst"] <= 1e-9


def test_pii_redaction_planted(spark):
    from ups_crossref_etl_spark.operators.text_analysis import pii_counts, redact_pii

    rows = [
        (1, "contact jane.doe+x@example.co.uk or 192.168.0.1 now"),
        (2, "call +1 (415) 555-0123 soon"),
        (3, "clean text, no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    c = pii_counts(F.col("t"))
    out = {
        r["i"]: r
        for r in df.select(
            "i", *[v.alias(k) for k, v in c.items()], redact_pii(F.col("t")).alias("r")
        ).collect()
    }
    assert out[1]["n_emails"] == 1 and out[1]["n_ips"] == 1
    assert "@" not in out[1]["r"] and "192.168" not in out[1]["r"]
    assert out[2]["n_phones"] == 1 and "555" not in out[2]["r"]
    assert out[3]["r"] == rows[2][1]  # untouched when nothing matches


def test_quality_constraints_planted_violations(spark):
    from ups_crossref_etl_spark.operators import quality as Q

    parent = spark.createDataFrame([(1,), (2,)], ["pk"])
    df = spark.createDataFrame(
        [(1, None, 5, "ok"), (2, 1, -3, "ok"), (3, 2, 7, "bad!"), (3, 9, 8, "ok")],
        ["id", "ref", "val", "tag"],
    )
    rep = {
        r["rule"]: r["n_violations"]
        for r in Q.check(
            df,
            [Q.not_null("ref"), Q.in_range("val", 0, None), Q.matches("tag", "^ok$")],
        ).collect()
    }
    assert rep["not_null(ref)"] == 1
    assert rep["in_range(val)"] == 1
    assert rep["matches(tag)"] == 1
    uniq = Q.check_unique(df, ["id"]).first()
    assert uniq["n_violations"] == 1  # id=3 twice
    fk = Q.check_foreign_key(df, "ref", parent, "pk").first()
    # ref=9 is the only orphan; the null ref is not_null's problem, not fk's
    assert fk["n_violations"] == 1


def test_chunk_spans_udtf_matches_native(spark, sf_dir):
    """The Python UDTF (API-parity path) must agree row-for-row with the
    JVM-native sequence+explode operator on the real corpus."""
    from ups_crossref_etl_spark.functions.udtfs import register_udtfs
    from ups_crossref_etl_spark.operators.sampling import chunk_spans
    from ups_crossref_etl_spark.operators.text_analysis import token_count

    register_udtfs(spark)
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(50)
        .select("doc_id", token_count(F.col("text")).cast("int").alias("n_tok"))
    )
    d.createOrReplaceTempView("_udtf_docs")
    via_udtf = spark.sql(
        "SELECT doc_id, c.chunk_idx, c.chunk_start, c.chunk_len "
        "FROM _udtf_docs, LATERAL chunk_spans_udtf(n_tok, 512, 64) c"
    ).collect()
    native = (
        chunk_spans(d, F.col("n_tok"), chunk_size=512, overlap=64)
        .select("doc_id", "chunk_idx", "chunk_start", "chunk_len")
        .collect()
    )
    assert sorted(map(tuple, via_udtf)) == sorted(map(tuple, native))


def test_audio_features_fake_pipeline(spark):
    from ups_crossref_etl_spark.operators import multimodal
    from ups_crossref_etl_spark.schemas import media_schema

    rows = [
        (1, "audio", "audio/wav", bytearray(bytes(range(64))), None, None, 4, None),
        (2, "audio", "audio/wav", None, None, None, None, None),
        (3, "image", "image/png", bytearray(b"xx"), None, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema=media_schema)
    got = {r["asset_id"]: r for r in
           multimodal.extract_audio_features(df, fake=True).collect()}
    assert set(got) == {1, 2}  # image filtered out
    assert got[1]["n_samples"] == 64 and got[1]["decode_ok"]
    assert 0.0 < got[1]["rms"] <= got[1]["peak"] <= 1.0
    assert got[2]["n_samples"] == 0 and not got[2]["decode_ok"]


# --------------------------------------------------------------------------
# Round-4 additions
# --------------------------------------------------------------------------


def test_simhash_md5_matches_pure_python(spark):
    """The md5_60 simhash is the oracle-checkable variant — pin it against
    an independent pure-Python recomputation (same spec DuckDB runs)."""
    import hashlib
    import re

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "the quick brown fox jumps over the lazy dog again"),
    ]

    def py_simhash(text: str, bits: int = 60) -> int:
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        votes = [0] * bits
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for b in range(bits):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum((1 << b) for b in range(bits) if votes[b] > 0)

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["_id"]: r["_sh"]
        for r in dedup.simhash_table(
            df, "text", "doc_id", token_hash="md5_60", bits=60
        ).collect()
    }
    assert got == {i: py_simhash(t) for i, t in docs}


def test_simhash_md5_candidates_hamming(spark):
    docs = [(1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "totally different words entirely here now")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_candidates(
            df, "text", "doc_id", blocks=8, token_hash="md5_60", bits=60
        ).collect()
    }
    assert pairs[(1, 2)] == 0  # identical docs → identical simhash


def test_incremental_dedup_precomputed_state_identical(spark, sf_dir):
    from ups_crossref_etl_spark.sources.lake import read_table

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    inc = d.filter(F.col("doc_id") % 5 == 0)
    cor = d.filter(F.col("doc_id") % 5 != 0)
    base = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup(
            inc, cor, "text", "doc_id", num_hashes=32, bands=16
        ).collect()
    )
    hashes, bandrows, shrows = dedup.corpus_dedup_state(
        cor, "text", "doc_id", num_hashes=32, bands=16
    )
    pre = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup(
            inc,
            cor,
            "text",
            "doc_id",
            num_hashes=32,
            bands=16,
            corpus_hashes=hashes,
            corpus_band_rows=bandrows,
            corpus_shingle_rows=shrows,
        ).collect()
    )
    assert pre == base and len(base) > 0


def test_connected_components_nonconvergence_signals(spark):
    import warnings as w

    from ups_crossref_etl_spark.operators.graph import connected_components

    # a 9-node path graph needs ~diameter iterations; max_iter=1 can't finish
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src bigint, dst bigint"
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        connected_components(edges, max_iter=1).collect()
    assert any("max_iter" in str(c.message) for c in caught)
    try:
        connected_components(edges, max_iter=1, strict=True).collect()
        raise AssertionError("expected RuntimeError")
    except RuntimeError:
        pass
    # converged runs stay silent
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        comp = connected_components(edges, max_iter=10).collect()
    assert not any("max_iter" in str(c.message) for c in caught)
    assert {r["component"] for r in comp} == {0}


def test_stratified_sample_fragile_rate_07(spark):
    """Rate 0.7: double math gives 6999.999… → cast-truncate loses bucket
    6999; the driver-side integer cutoff keeps it (ADVICE r3 fix)."""
    from ups_crossref_etl_spark.operators.sampling import hash_bucket, stratified_sample

    df = spark.createDataFrame(
        [(i, "s") for i in range(2000)], "k bigint, g string"
    )
    kept = {
        r["k"] for r in stratified_sample(df, "g", "k", rates={"s": 0.7}).collect()
    }
    want = {
        r["k"]
        for r in df.filter(
            hash_bucket(F.col("k"), "strat", 10_000) < 7000
        ).collect()
    }
    assert kept == want


def test_scalar_quantize_empty_and_null_guard(spark):
    df = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    try:
        similarity.scalar_quantize(df, "embedding", "vec_id")
        raise AssertionError("expected ValueError on empty input")
    except ValueError:
        pass
    # all-zero dimension degrades to scale 1.0, codes 0 — no crash
    df2 = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [0.0, -2.0])], "vec_id bigint, embedding array<double>"
    )
    got = {r["vec_id"]: r["qvec"] for r in
           similarity.scalar_quantize(df2, "embedding", "vec_id").collect()}
    assert got[1][0] == 0 and got[2][0] == 0


def test_check_queries_rejects_array_cells():
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from check_queries import reject_unhashable

    try:
        reject_unhashable([(1, [1, 2, 3])], ["id", "arr"], "spark")
        raise AssertionError("expected TypeError (driver canonicalizer parity)")
    except TypeError:
        pass
    reject_unhashable([(1, "a,b")], ["id", "s"], "spark")  # strings fine


def test_top_vocab_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "b b a a c"), (2, "a b d")], "doc_id bigint, text string"
    )
    rows = ta.top_vocab(df, "text", "doc_id", k=3).collect()
    # a and b tie at 3 occurrences → token asc breaks the tie; c/d tie at 1
    # → c wins the last slot alphabetically
    assert [(r["token"], r["n_occurrences"], r["n_docs"]) for r in rows] == [
        ("a", 3, 2), ("b", 3, 2), ("c", 1, 1)
    ]


def test_ngram_contamination_planted_overlap(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(10, f"prefix words {shared} suffix words"),
         (11, "completely unrelated content with other tokens entirely")],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(1, f"benchmark question {shared} benchmark answer")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["n_shared_ngrams"] for r in
           dedup.ngram_contamination(corpus, bench, "text", "doc_id", n=5).collect()}
    # the 8 shared tokens give 4 shared 5-grams; doc 11 is clean → absent
    assert got == {10: 4}


def test_repeated_ngrams_summary(spark):
    passage = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, f"{passage} tail a"), (2, f"head b {passage}"),
         (3, "nothing in common with the others at all whatsoever truly")],
        "doc_id bigint, text string",
    )
    row = dedup.repeated_ngrams_summary(df, "text", "doc_id", n=10).collect()[0]
    # the 10-token passage is the single repeated 10-gram, in 2 docs
    assert row["n_repeated_ngrams"] == 1 and row["max_docs_sharing"] == 2


def test_bm25_ranks_matches_and_idf(spark):
    from ups_crossref_etl_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "spark join spark join spark"),          # many hits, short
        (2, "spark table scan filter value row"),    # one hit
        (3, "table scan filter value row group"),    # no hits
        (4, "vector vector vector vector vector"),   # rare term, high tf
    ]
    d = spark.createDataFrame(rows, schema=["doc_id", "text"])
    out = bm25_topk(d, "text", "doc_id", ["spark", "vector"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids  # non-matching doc never scored
    scores = {r["doc_id"]: r["score"] for r in out}
    # doc 4: rarer term (df=1 vs df=2) at saturated tf beats doc 2's single
    # common-term hit; doc 1's repeated hits beat doc 2 as well
    assert scores[4] > scores[2]
    assert scores[1] > scores[2]
    assert out[0]["score"] == max(scores.values())  # sorted desc
    assert {r["doc_id"]: r["n_matched_terms"] for r in out}[1] == 1


def test_bm25_k_cut_and_empty_query(spark):
    import pytest as _pytest

    from ups_crossref_etl_spark.operators.retrieval import bm25_topk

    rows = [(i, "spark row") for i in range(20)]
    d = spark.createDataFrame(rows, schema=["doc_id", "text"])
    out = bm25_topk(d, "text", "doc_id", ["spark"], k=5).collect()
    # all 20 docs tie exactly -> doc_id tiebreak makes the cut deterministic
    assert [r["doc_id"] for r in out] == [0, 1, 2, 3, 4]
    with _pytest.raises(ValueError):
        bm25_topk(d, "text", "doc_id", [], k=5)


def test_unigram_nll_orders_rare_docs_and_precomputed_model(spark):
    from ups_crossref_etl_spark.operators.text_analysis import (
        token_frequencies,
        unigram_nll,
    )

    rows = [
        (1, "the the the the the the the the"),  # all common tokens
        (2, "the the the the the the the zebra"),  # one rare token
    ]
    d = spark.createDataFrame(rows, schema=["doc_id", "text"])
    out = {r["doc_id"]: r for r in unigram_nll(d, "text", "doc_id").collect()}
    assert out[1]["n_tokens"] == 8
    assert out[2]["nll"] > out[1]["nll"]  # rare token raises NLL
    # precomputed-model hook: scoring against the same model is identical
    freq = token_frequencies(d, "text", "doc_id", exact_doc_freq=False)
    out2 = {
        r["doc_id"]: r["nll"]
        for r in unigram_nll(d, "text", "doc_id", freq=freq).collect()
    }
    assert out2 == {k: v["nll"] for k, v in out.items()}


def test_self_repetition_planted_extremes(spark):
    from ups_crossref_etl_spark.operators.text_analysis import self_repetition

    rows = [
        (1, "spam spam spam spam spam spam"),       # maximal repetition
        (2, "one two three four five six seven"),   # all distinct
        (3, "ab"),                                   # shorter than n
    ]
    d = spark.createDataFrame(rows, schema=["doc_id", "text"])
    out = {r["doc_id"]: r for r in self_repetition(d, "text", "doc_id", n=3).collect()}
    assert out[1]["top_token_frac"] == 1.0
    assert out[1]["n_ngrams"] == 4 and out[1]["n_distinct_ngrams"] == 1
    assert out[1]["dup_ngram_frac"] == 0.75
    assert out[2]["dup_ngram_frac"] == 0.0
    assert round(out[2]["top_token_frac"], 4) == round(1 / 7, 4)
    assert out[3]["n_ngrams"] == 1 and out[3]["dup_ngram_frac"] == 0.0


def test_scd2_intervals_planted_history(spark):
    import datetime as dt

    from ups_crossref_etl_spark.operators.scd import intervals_from_log

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, t(0), "bronze"),
        (1, t(1), "bronze"),
        (1, t(2), "silver"),
        (1, t(3), "bronze"),  # value returns -> NEW interval, not merged
        (2, t(0), None),      # null state is a state (null-safe change detect)
        (2, t(1), "gold"),
    ]
    d = spark.createDataFrame(rows, schema=["user_id", "ts", "tier"])
    out = intervals_from_log(d, "user_id", "tier", "ts").orderBy(
        "user_id", "valid_from"
    ).collect()
    u1 = [r for r in out if r["user_id"] == 1]
    assert [(r["tier"], r["n_events"]) for r in u1] == [
        ("bronze", 2), ("silver", 1), ("bronze", 1)
    ]
    assert u1[0]["valid_to"] == u1[1]["valid_from"]  # intervals abut
    assert u1[2]["is_current"] and u1[2]["valid_to"] is None
    u2 = [r for r in out if r["user_id"] == 2]
    assert [(r["tier"], r["is_current"]) for r in u2] == [
        (None, False), ("gold", True)
    ]


def test_pq_exact_when_codebook_covers_data(spark):
    """With k >= number of distinct subvectors, k-means converges to the
    subvectors themselves, so ADC reconstructs cosine exactly (4 dp)."""
    import numpy as np

    from ups_crossref_etl_spark.operators import pq as pq_ops

    rng = np.random.RandomState(7)
    base = rng.randn(4, 8).round(3)
    rows = [(i, [float(x) for x in base[i % 4]]) for i in range(16)]
    d = spark.createDataFrame(rows, schema=["vec_id", "embedding"])
    cb = pq_ops.pq_fit(d, m=2, k=4, max_iter=4)
    qv = [float(x) for x in base[1]]
    out = {r["vec_id"]: r["adc_cos"] for r in pq_ops.pq_topk(d, qv, cb, k=16).collect()}
    # every copy of base[1] must score exactly 1.0 (self-cosine, exact codes)
    for i in (1, 5, 9, 13):
        assert out[i] == 1.0
    # and the exact cosine of every other vector is reproduced to 4 dp
    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for i in (0, 2, 3):
        assert abs(out[i] - round(cos(base[i], base[1]), 4)) <= 1e-9


def test_pq_encode_shape_and_fit_guards(spark):
    import pytest as _pytest

    from ups_crossref_etl_spark.operators import pq as pq_ops

    rows = [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(8)]
    d = spark.createDataFrame(rows, schema=["vec_id", "embedding"])
    cb = pq_ops.pq_fit(d, m=2, k=4, max_iter=2)
    assert cb.shape == (2, 4, 2)
    codes = pq_ops.pq_encode(d, cb).select("pq_codes").first()[0]
    assert len(codes) == 2 and all(0 <= c < 4 for c in codes)
    with _pytest.raises(ValueError):
        pq_ops.pq_fit(d, m=3, k=4)  # dim 4 not divisible by 3
    with _pytest.raises(ValueError):
        pq_ops.pq_fit(d, m=2, k=64)  # k > n vectors


def test_fuzzy_match_blocking_and_verify(spark):
    from ups_crossref_etl_spark.operators.linkage import (
        fuzzy_dedup_groups, fuzzy_match_pairs,
    )

    rows = [
        (1, "acme university"),
        (2, "acme universty"),    # shares token "acme", edit 1
        (3, "acme institute"),    # shares token, edit > 3 -> verified out
        (4, "zzzz vniversity"),   # edit 2 from nothing here, NO shared token
        (5, "beta labs"),
        (6, "beta labz"),         # shares "beta", edit 1
    ]
    d = spark.createDataFrame(rows, ["id", "name"])
    pairs = fuzzy_match_pairs(d, "name", "id", max_edit=3)
    got = {(r["id_a"], r["id_b"]): r["edit_dist"] for r in pairs.collect()}
    assert got == {(1, 2): 1, (5, 6): 1}
    # documented recall caveat: 4 is close to "university" rows by edit
    # distance but shares no token, so it is unreachable by design

    groups = {
        r["id"]: r["canonical_id"]
        for r in fuzzy_dedup_groups(d, "name", "id", max_edit=3).collect()
    }
    assert groups == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5, 6: 5}


def test_fuzzy_match_token_df_cap(spark):
    from ups_crossref_etl_spark.operators.linkage import fuzzy_match_pairs

    # every name shares the stop-token "inc"; with the cap below its df the
    # block is dropped and only the rare-token pair survives
    rows = [(i, f"inc company{i}") for i in range(10)] + [
        (100, "inc rare alpha"), (101, "inc rare alphb"),
    ]
    d = spark.createDataFrame(rows, ["id", "name"])
    pairs = fuzzy_match_pairs(d, "name", "id", max_edit=2, token_df_cap=5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(100, 101)}


def test_funnel_chaining_semantics(spark):
    from datetime import datetime

    from ups_crossref_etl_spark.operators.funnel import (
        funnel_counts, funnel_users,
    )

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1 completes in order
        (1, "signup", t(0)), (1, "view", t(10)), (1, "purchase", t(20)),
        # u2: purchase BEFORE view -> stops after view
        (2, "signup", t(0)), (2, "purchase", t(5)), (2, "view", t(10)),
        # u3: view simultaneous with signup -> strict > rejects it
        (3, "signup", t(0)), (3, "view", t(0)),
        # u4: never signed up
        (4, "view", t(0)), (4, "purchase", t(1)),
    ]
    d = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    steps = ["signup", "view", "purchase"]
    counts = {
        r["step"]: r["n_users"]
        for r in funnel_counts(d, "user_id", "event_type", "ts", steps).collect()
    }
    assert counts == {"signup": 3, "view": 2, "purchase": 1}
    u = {r["user"]: (r["t1"], r["t2"], r["t3"])
         for r in funnel_users(d, "user_id", "event_type", "ts", steps).collect()}
    assert u[1] == (t(0), t(10), t(20))
    assert u[2][2] is None and u[2][1] == t(10)
    assert u[3][1] is None


def test_funnel_max_span(spark):
    from datetime import datetime

    from ups_crossref_etl_spark.operators.funnel import funnel_counts

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, "a", t(0)), (1, "b", t(30)),   # within 40s span
        (2, "a", t(0)), (2, "b", t(50)),   # outside span
    ]
    d = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    counts = {
        r["step"]: r["n_users"]
        for r in funnel_counts(
            d, "user_id", "event_type", "ts", ["a", "b"], max_span_seconds=40
        ).collect()
    }
    assert counts == {"a": 2, "b": 1}


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from ups_crossref_etl_spark.operators.pagerank import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    d = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(d, n_iter=4).collect()}

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    out = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    r = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(4):
        nr = np.full(len(nodes), 0.15 / len(nodes))
        for s, dst in edges:
            nr[idx[dst]] += 0.85 * r[idx[s]] / out[s]
        r = nr
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-12
    # node 3 is a pure source: floor rank only
    assert abs(got[3] - 0.15 / 4) < 1e-12


def test_token_divergence_identical_and_disjoint(spark):
    from ups_crossref_etl_spark.operators.text_analysis import token_divergence

    rows = [
        (1, "alpha beta gamma", "a"), (2, "alpha beta gamma", "b"),
        (3, "delta delta", "c"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    same = token_divergence(d, "text", "source", "a", "b").first()
    assert same["kl_ab"] == 0.0 and same["kl_ba"] == 0.0 and same["js"] == 0.0
    assert same["vocab_size"] == 3
    diff = token_divergence(d, "text", "source", "a", "c").first()
    assert diff["kl_ab"] > 0 and diff["js"] > 0
    # JS is symmetric and bounded by ln 2
    d2 = token_divergence(d, "text", "source", "c", "a").first()
    assert abs(diff["js"] - d2["js"]) < 1e-12
    assert 0 < diff["js"] < 0.6931472


def test_heavy_hitters_exact_threshold(spark):
    import pytest as _pytest

    from ups_crossref_etl_spark.operators.sketches import heavy_hitters

    # 12 rows: a x6, b x4, c x2 -> with k=3 threshold is n/k = 4 (strict >)
    rows = [("a",)] * 6 + [("b",)] * 4 + [("c",)] * 2
    d = spark.createDataFrame(rows, ["v"]).repartition(4)
    got = {r["v"]: r["n_occurrences"] for r in heavy_hitters(d, "v", 3).collect()}
    assert got == {"a": 6}  # b has exactly n/k, excluded by strict >
    got2 = {r["v"]: r["n_occurrences"] for r in heavy_hitters(d, "v", 4).collect()}
    assert got2 == {"a": 6, "b": 4}
    with _pytest.raises(ValueError):
        heavy_hitters(d, "v", 1)


def test_heavy_hitters_ignores_nulls(spark):
    from ups_crossref_etl_spark.operators.sketches import heavy_hitters

    rows = [("a",)] * 5 + [(None,)] * 10 + [("b",)] * 1
    d = spark.createDataFrame(rows, schema="v string").repartition(3)
    got = {r["v"]: r["n_occurrences"] for r in heavy_hitters(d, "v", 2).collect()}
    assert got == {"a": 5}


def test_cdc_apply_changes_semantics(spark):
    import pytest as _pytest

    from ups_crossref_etl_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "bal"]
    )
    ch = spark.createDataFrame(
        [
            (2, "b2", 21.0, "U", 5),   # superseded by seq 7
            (2, "b3", 22.0, "U", 7),   # winner for key 2
            (3, "c", 0.0, "D", 1),     # delete key 3
            (4, "d", 40.0, "I", 2),    # brand-new key
            (5, "e", 50.0, "I", 3),    # insert then delete -> absent
            (5, "e", 0.0, "D", 4),
        ],
        ["id", "name", "bal", "op", "seq"],
    )
    out = {r["id"]: (r["name"], r["bal"])
           for r in apply_changes(snap, ch, ["id"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("b3", 22.0), 4: ("d", 40.0)}

    with _pytest.raises(ValueError):
        apply_changes(snap, ch.drop("bal"), ["id"])


def test_cdc_delete_wins_seq_tie(spark):
    from ups_crossref_etl_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame([(1, "a")], ["id", "name"])
    ch = spark.createDataFrame(
        [(1, "a2", "U", 5), (1, "a", "D", 5)], ["id", "name", "op", "seq"]
    )
    assert apply_changes(snap, ch, ["id"]).count() == 0


def test_resample_ffill_grid_and_fill(spark):
    from datetime import datetime

    from ups_crossref_etl_spark.operators.timeseries import resample_ffill

    rows = [
        # key "x": obs in buckets 0 and 3 (of a 10s grid); 1,2 filled
        ("x", datetime(2024, 1, 1, 0, 0, 1), 4.0),
        ("x", datetime(2024, 1, 1, 0, 0, 2), 6.0),   # same bucket -> mean 5.0
        ("x", datetime(2024, 1, 1, 0, 0, 35), 9.0),
        # key "y": single observation -> single-row grid
        ("y", datetime(2024, 1, 1, 0, 0, 21), 7.0),
    ]
    d = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = resample_ffill(d, "k", "ts", "v", 10)
    got = {
        (r["k"], r["bucket_ts"].second): (r["value"], r["filled"])
        for r in out.collect()
    }
    assert got == {
        ("x", 0): (5.0, False),
        ("x", 10): (5.0, True),
        ("x", 20): (5.0, True),
        ("x", 30): (9.0, False),
        ("y", 20): (7.0, False),
    }


def test_percentile_trim_bounds(spark):
    import pytest as _pytest

    from ups_crossref_etl_spark.operators.corpus import percentile_trim

    d = spark.createDataFrame([(i,) for i in range(1, 101)], ["n"])
    kept = [r["n"] for r in percentile_trim(d, "n", 0.10, 0.90).collect()]
    # exact PERCENTILE_CONT on 1..100: p10 = 10.9, p90 = 90.1
    assert min(kept) == 11 and max(kept) == 90 and len(kept) == 80
    with _pytest.raises(ValueError):
        percentile_trim(d, "n", 0.9, 0.1)


def test_ivfpq_subset_of_probed_lists(spark):
    import numpy as np

    from ups_crossref_etl_spark.operators import ivf
    from ups_crossref_etl_spark.operators import pq as pq_ops

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(64)]
    d = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = ivf.kmeans_fit(d, k=4, max_iter=2)
    cb = pq_ops.pq_fit(d, m=2, k=8, max_iter=2)
    qv = rows[0][1]
    got = pq_ops.ivfpq_topk(d, qv, cents, cb, k=5, nprobe=1)
    ids = [r["vec_id"] for r in got.collect()]
    # nprobe=1 means every hit lives in the query's own list (and the
    # result is capped by that list's population, not just k)
    assigned = {
        r["vec_id"]: r["_cluster"]
        for r in ivf.assign_clusters(d, cents).collect()
    }
    qlist = assigned[0]
    list_size = sum(1 for c in assigned.values() if c == qlist)
    assert len(ids) == min(5, list_size)
    assert all(assigned[i] == qlist for i in ids)
    # self-retrieval: vector 0 scores its own code reconstruction highest
    full = pq_ops.ivfpq_topk(d, qv, cents, cb, k=64, nprobe=4)
    assert full.first()["vec_id"] == 0


def test_bpe_train_learns_planted_merges(spark):
    from ups_crossref_etl_spark.operators.bpe import (
        bpe_encode, bpe_segment, bpe_train, word_vocab,
    )

    # classic BPE corpus: "ab" dominates pair counts, then "abc"; doc 3's
    # null text has no words (not the word "none")
    rows = [(1, "abc abc abc abd"), (2, "abc abd xy"), (3, None)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = {r["word"]: r["n"] for r in word_vocab(d, "text").collect()}
    assert vocab == {"abc": 4, "abd": 2, "xy": 1}
    merges = bpe_train(d, "text", n_merges=3)
    # pair (a,b) occurs 6x -> first merge; then (ab,c) 4x; then (ab,d) 2x
    assert merges == [("a", "b"), ("ab", "c"), ("ab", "d")]

    seg = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
           for r in bpe_segment(d, "text", "doc_id", merges).collect()}
    # doc1: abc->1 token x3, abd->1 -> 4 tokens; doc2: abc, abd, x+y
    assert seg == {1: (4, 4), 2: (3, 4), 3: (0, 0)}
    enc = {r["doc_id"]: (r["n_tokens"], r["tokens_str"])
           for r in bpe_encode(d, "text", "doc_id", merges).collect()}
    assert enc == {1: (4, "abc abc abc abd"), 2: (4, "abc abd x y"), 3: (0, "")}


def test_bpe_merge_leftmost_nonoverlapping(spark):
    from ups_crossref_etl_spark.operators.bpe import _merge_word, bpe_train

    assert _merge_word(list("aaa"), ("a", "a")) == ["aa", "a"]
    assert _merge_word(list("aaaa"), ("a", "a")) == ["aa", "aa"]
    # early stop: no pair reaches count 2
    d = spark.createDataFrame([(1, "ab cd")], ["doc_id", "text"])
    assert bpe_train(d, "text", n_merges=5) == []


def test_triangle_count_and_degrees(spark):
    from ups_crossref_etl_spark.operators.graph import (
        degree_stats, triangle_count,
    )

    # K4 on {1,2,3,4} (4 triangles) + pendant 5 + self-loop + dup/reversed
    edges = [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 5)]
    d = spark.createDataFrame(edges, ["src", "dst"])
    assert triangle_count(d).first()["n_triangles"] == 4
    deg = {r["node"]: r["degree"] for r in degree_stats(d).collect()}
    assert deg == {1: 3, 2: 3, 3: 3, 4: 4, 5: 2}  # 5: pendant + self-loop


def test_key_skew_stats_planted(spark):
    from ups_crossref_etl_spark.operators.skew import key_skew_stats

    # key "hot" 8 rows, "a".."d" 1 row each -> 5 keys, 12 rows, max 8,
    # avg 2.4, skew 8/2.4=3.33; p99 of [1,1,1,1,8] = 1 + 0.96*7 = 7.72
    rows = [("hot",)] * 8 + [("a",), ("b",), ("c",), ("d",)]
    d = spark.createDataFrame(rows, ["k"])
    r = key_skew_stats(d, "k").first()
    assert (r["n_keys"], r["total_rows"], r["max_cnt"]) == (5, 12, 8)
    assert r["avg_cnt"] == 2.4
    assert r["p99_cnt"] == 7.72
    assert r["skew_factor"] == 3.33


def test_temperature_mix_rebalances(spark):
    from ups_crossref_etl_spark.operators.sampling import temperature_mix

    # head domain 400 rows, tail 25: alpha=0 -> uniform shares, so the
    # head is cut toward budget/2 while the tail keeps everything
    rows = [("head", i) for i in range(400)] + [("tail", 1000 + i) for i in range(25)]
    d = spark.createDataFrame(rows, ["dom", "k"])
    got = {
        r["dom"]: r["cnt"]
        for r in temperature_mix(d, "dom", "k", alpha=0.0, total_budget=100)
        .groupBy("dom").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got["tail"] == 25  # rate min(1, 50/25) = 1 -> all kept
    assert 30 <= got["head"] <= 70  # rate 50/400 = 0.125 of 400 ~ 50
    # alpha=1 reproduces natural proportions: both rates = 100/425
    nat = {
        r["dom"]: r["cnt"]
        for r in temperature_mix(d, "dom", "k", alpha=1.0, total_budget=100)
        .groupBy("dom").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert nat["head"] > got["head"] - 20 and nat["tail"] < 25


def test_rolling_zscore_outliers_planted(spark):
    from ups_crossref_etl_spark.operators.timeseries import (
        rolling_zscore_outliers,
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # user 1: stable 10.0 +/- 0.1 for 10 rows, then a 50.0 spike;
    # user 2: too little history to ever flag
    rows = []
    for i in range(10):
        rows.append((1, t0 + dt.timedelta(minutes=i), i, 10.0 + 0.1 * (i % 2)))
    rows.append((1, t0 + dt.timedelta(minutes=10), 10, 50.0))
    rows.append((2, t0, 11, 5.0))
    rows.append((2, t0 + dt.timedelta(minutes=1), 12, 500.0))
    d = spark.createDataFrame(rows, ["uid", "ts", "eid", "v"])
    for scale in (None, 100):
        out = rolling_zscore_outliers(
            d, "uid", "ts", "v", "eid", window_rows=24,
            threshold=3.0, min_history=8, value_scale=scale,
        ).collect()
        assert [r["eid"] for r in out] == [10]
        assert out[0]["n_history"] == 10
        assert out[0]["zscore"] > 100  # 40-sigma spike vs 0.05 stddev
        assert abs(out[0]["baseline_mean"] - 10.05) < 1e-9


def test_zorder_key_locality(spark):
    from ups_crossref_etl_spark.operators.layout import (
        repartition_by_zorder, zorder_key, zorder_key_sql, zorder_tile_stats,
    )

    d = spark.range(0, 256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("bigint").alias("y")
    )
    keyed = d.select("x", "y", zorder_key(F.col("x"), F.col("y"), 8).alias("z"))
    rows = {(r["x"], r["y"]): r["z"] for r in keyed.collect()}

    def morton(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert all(rows[(x, y)] == morton(x, y) for (x, y) in rows)
    # the SQL twin generates the identical key (evaluated via Spark SQL)
    sql_rows = {
        (r["x"], r["y"]): r["z"]
        for r in d.selectExpr(
            "x", "y", zorder_key_sql("x", "y", 8).replace("LEAST", "least") + " AS z"
        ).collect()
    }
    assert sql_rows == rows
    # tiles: shift 4 -> 16-cell curve segments; every tile's bbox is a
    # compact 4x4 square (perfect 2-D locality), never a full-range slab
    st = zorder_tile_stats(d, F.col("x"), F.col("y"), bits=8, tile_shift=4).collect()
    assert len(st) == 16
    for r in st:
        assert r["n_rows"] == 16
        assert r["x_max"] - r["x_min"] == 3 and r["y_max"] - r["y_min"] == 3
    assert repartition_by_zorder(d, "x", "y", num_partitions=4).count() == 256


def test_setsim_join_matches_bruteforce(spark):
    from ups_crossref_etl_spark.operators.setsim import setsim_join

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),       # 4/6 = 0.667 vs 1
        (3, "alpha beta gamma delta epsilon"),    # exact dup of 1
        (4, "omega psi chi phi upsilon"),         # disjoint
        (5, "alpha the the the the"),             # tiny overlap with 1
        (6, ""),                                  # empty set, never pairs
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])

    def toks(s):
        return {t for t in s.lower().split() if t}

    sets = {i: toks(t) for i, t in rows}
    for thr in (0.5, 0.8, 1.0):
        want = {}
        for a in sets:
            for b in sets:
                if a < b and sets[a] and sets[b]:
                    ov = len(sets[a] & sets[b])
                    j = ov / len(sets[a] | sets[b])
                    if j >= thr:
                        want[(a, b)] = (ov, len(sets[a]), len(sets[b]))
        got = {
            (r["id_a"], r["id_b"]): (r["overlap"], r["size_a"], r["size_b"])
            for r in setsim_join(d, "doc_id", "text", threshold=thr).collect()
        }
        assert got == want, f"threshold {thr}"


def test_setsim_join_shingles_and_validation(spark):
    import pytest as _pytest
    from ups_crossref_etl_spark.operators.setsim import setsim_join

    rows = [
        (1, "a b c d e"),   # 3-gram shingles: {a b c, b c d, c d e}
        (2, "a b c d x"),   # shares {a b c, b c d} -> 2/4 = 0.5
        (3, "e d c b a"),   # same VOCAB as 1, zero shared 3-grams
        (4, "a b"),         # shorter than the shingle width -> empty set
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in setsim_join(d, "doc_id", "text", threshold=0.5,
                             shingle_width=3).collect()
    }
    assert got == {(1, 2): 0.5}
    # width 1 is vocabulary similarity: 1 and 3 are identical sets
    uni = {
        (r["id_a"], r["id_b"])
        for r in setsim_join(d, "doc_id", "text", threshold=0.99).collect()
    }
    assert (1, 3) in uni
    with _pytest.raises(ValueError):
        setsim_join(d, "doc_id", "text", threshold=0.0)
    with _pytest.raises(ValueError):
        setsim_join(d, "doc_id", "text", shingle_width=0)


def test_inverted_index_postings_and_shards(spark):
    from ups_crossref_etl_spark.operators.retrieval import inverted_index

    rows = [
        (10, "spark spark shuffle"),
        (11, "spark join"),
        (12, "spark shuffle shuffle"),
        (13, "join"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = {
        (r["token"], r["shard"]): r
        for r in inverted_index(d, "doc_id", "text", shard_size=2).collect()
    }
    # 'spark': df 3, cf 4 -> shards [10,11] and [12]
    assert idx[("spark", 0)]["postings"] == "10:2,11:1"
    assert idx[("spark", 1)]["postings"] == "12:1"
    for s in (0, 1):
        assert idx[("spark", s)]["df_total"] == 3
        assert idx[("spark", s)]["cf_total"] == 4
    assert idx[("spark", 0)]["n_postings"] == 2
    assert idx[("join", 0)]["postings"] == "11:1,13:1"
    assert idx[("shuffle", 0)]["postings"] == "10:1,12:2"
    # min_df prunes rare tokens entirely (every shard of them)
    pruned = inverted_index(d, "doc_id", "text", min_df=3, shard_size=2)
    assert {r["token"] for r in pruned.collect()} == {"spark"}


def test_groupwise_trend_exact_line(spark):
    from ups_crossref_etl_spark.operators.timeseries import groupwise_trend
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    origin = int(t0.timestamp())
    rows = []
    # key 'lin': y = 2.5*x + 1 exactly at hours 0..4 -> slope 2.5, r2 1.0
    for h in range(5):
        rows.append(("lin", t0 + dt.timedelta(hours=h), 2.5 * h + 1.0))
    # key 'flat': constant y -> slope 0, r2 NULL (zero y-variance)
    for h in range(3):
        rows.append(("flat", t0 + dt.timedelta(hours=h), 7.0))
    # key 'one': a single point -> dropped (min_points)
    rows.append(("one", t0, 3.0))
    # key 'same_x': two points in one hour bucket -> dropped (zero x-var)
    rows.append(("same_x", t0, 1.0))
    rows.append(("same_x", t0 + dt.timedelta(minutes=5), 2.0))
    d = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = {r["k"]: r for r in groupwise_trend(
        d, "k", "ts", "v", x_origin_epoch=origin).collect()}
    assert set(out) == {"lin", "flat"}
    assert out["lin"]["n_points"] == 5
    assert abs(out["lin"]["slope"] - 2.5) < 1e-9
    assert abs(out["lin"]["intercept"] - 1.0) < 1e-9
    assert out["lin"]["r2"] == 1.0
    assert out["flat"]["slope"] == 0.0
    assert abs(out["flat"]["intercept"] - 7.0) < 1e-9
    assert out["flat"]["r2"] is None


def test_pq_topk_operational(spark, sf_dir):
    """q_emb_pq_topk is deliberately out of the registry (k-means centroid
    means are FP-accumulation-order-sensitive, so no SQL oracle can be
    exact, and a rows-only registry row scores ``err`` in the driver
    gate); this keeps the operational query exercised end-to-end. Quality
    is pinned by the oracle-checked q_emb_pq_recall_bound."""
    from ups_crossref_etl_spark.plans.round4_queries import q_emb_pq_topk

    rows = q_emb_pq_topk(spark, sf_dir).collect()
    assert len(rows) == 10
    assert len({r["vec_id"] for r in rows}) == 10
    sims = [r["adc_cos"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_remove_common_spans_planted(spark):
    from ups_crossref_etl_spark.operators.spans import remove_common_spans

    boiler = "all rights reserved by the site"  # 6 tokens -> two 5-gram windows
    rows = [
        (1, f"{boiler} unique alpha text one"),
        (2, f"{boiler} unique beta text two"),
        (3, f"{boiler} unique gamma text three"),
        (4, "entirely distinct content with no shared spans at all here"),
        (5, "short text"),  # < n tokens: no grams, nothing removable
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_common_spans(d, "text", "doc_id", n=5, min_docs=3).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # docs 1-3 share the 6 boilerplate tokens AND the following "unique"
    # (the window [reserved by the site unique] also repeats in 3 docs),
    # so 7 positions are covered; the per-doc tail survives
    for i, word in [(1, "alpha"), (2, "beta"), (3, "gamma")]:
        assert out[i]["n_removed"] == 7
        assert out[i]["cleaned_text"] == f"{word} text " + \
            {1: "one", 2: "two", 3: "three"}[i]
    assert out[4]["n_removed"] == 0
    assert out[4]["cleaned_text"].startswith("entirely distinct")
    assert out[5]["n_removed"] == 0 and out[5]["cleaned_text"] == "short text"


def test_bigram_nll_prefers_in_distribution_docs(spark):
    import math

    from ups_crossref_etl_spark.operators.text_analysis import bigram_nll

    rows = [
        (1, "a b a b a b a b"),
        (2, "a b a b a b a b"),
        (3, "b a b a b a b a"),
        (4, "x y z w q r s t"),  # every bigram unique -> high NLL
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in bigram_nll(d, "text", "doc_id").collect()}
    assert all(out[i]["n_bigrams"] == 7 for i in (1, 2, 3, 4))
    assert out[1]["nll"] == out[2]["nll"] < out[4]["nll"]
    # hand-check doc 1: V=10 distinct tokens; c(a)=c(b)=12 corpus-wide;
    # corpus c2(a,b)=4+4+3=11, c2(b,a)=3+3+4=10
    # -> nll = (4*ln(22/12) + 3*ln(22/11)) / 7
    expect = (4 * math.log(22 / 12) + 3 * math.log(22 / 11)) / 7
    assert abs(out[1]["nll"] - round(expect, 4)) < 1e-9


def test_weighted_sample_k_matches_reference_computation(spark):
    """The sample must be exactly the k smallest -ln(u)/w clocks with the
    same md5-uniform u a reference Python computation produces."""
    import hashlib
    import math

    from ups_crossref_etl_spark.operators.sampling import weighted_sample_k

    rows = [(i, float(1 + (i * 7) % 50)) for i in range(1, 201)]
    rows += [(900, 0.0), (901, None)]  # excluded: non-positive / null weight
    d = spark.createDataFrame(rows, ["doc_id", "w"])
    got = [
        (r["doc_id"], r["rank"])
        for r in weighted_sample_k(d, "doc_id", "w", k=15, seed="t").collect()
    ]

    def clock(key, w):
        h = int(hashlib.md5(f"t-{key}".encode()).hexdigest()[:8], 16)
        return -math.log((h + 0.5) / 2**32) / w

    expect = sorted(
        ((clock(k, w), k) for k, w in rows if w), key=lambda t: (t[0], t[1])
    )[:15]
    assert got == [(k, i + 1) for i, (_, k) in enumerate(expect)]


def test_quality_keeper_picks_best_and_singletons(spark):
    from ups_crossref_etl_spark.operators.dedup import quality_keeper

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (5, 99)], ["doc_id", "q"]
    )
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    out = {r["doc_id"]: r for r in quality_keeper(docs, "doc_id", "q", edges).collect()}
    # component {1,2,3}: best quality 30 tie between 2 and 3 -> min id 2
    for i in (1, 2, 3):
        assert out[i]["component"] == 1 and out[i]["keeper_id"] == 2
    assert [out[i]["is_keeper"] for i in (1, 2, 3)] == [False, True, False]
    # 4 and 5 are singletons keeping themselves
    for i in (4, 5):
        assert out[i]["component"] == i and out[i]["keeper_id"] == i
        assert out[i]["is_keeper"]


def test_mmr_diversifies_vs_plain_topk(spark, sf_dir):
    from ups_crossref_etl_spark.operators import similarity as sim
    from ups_crossref_etl_spark.sources.lake import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    mmr = sim.mmr_topk(emb, qv, k=8, lam=0.5, pool=40)
    rows = mmr.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(1, 9))
    assert rows[0]["vec_id"] == 0 and rows[0]["rel"] == 1.0  # query is its own top-1
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == 8

    # diversity: the MMR set's mean pairwise cosine must not exceed the
    # plain top-8's (greedy penalty can only reduce redundancy)
    def mean_pairwise(id_list):
        vecs = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.filter(F.col("vec_id").isin(id_list)).collect()
        }
        import itertools
        def cos(a, b):
            dp = sum(x * y for x, y in zip(a, b))
            na = sum(x * x for x in a) ** 0.5
            nb = sum(y * y for y in b) ** 0.5
            return dp / (na * nb)
        pairs = list(itertools.combinations(id_list, 2))
        return sum(cos(vecs[a], vecs[b]) for a, b in pairs) / len(pairs)

    top8 = [r["vec_id"] for r in sim.brute_force_topk(emb, qv, k=8).collect()]
    assert mean_pairwise(ids) <= mean_pairwise(top8) + 1e-9


def test_semantic_dedup_planted_groups(spark):
    """Planted semantic duplicates: three tight groups of near-identical
    vectors plus isolated singletons. The full pipeline must (a) find
    every within-group pair (they share a nearest centroid by
    construction), (b) collapse each group to one keeper, (c) keep every
    singleton, (d) pick the group member FARTHEST from its centroid."""
    from ups_crossref_etl_spark.operators import semdedup

    base = [
        [10.0, 0.0, 0.0, 0.0],
        [0.0, 10.0, 0.0, 0.0],
        [0.0, 0.0, 10.0, 0.0],
    ]
    rows = []
    vid = 0
    for g, b in enumerate(base):  # 3 groups x 3 members, tiny jitter
        for j in range(3):
            vec = [x + (0.01 * (j + 1) * ((i + g) % 3)) for i, x in enumerate(b)]
            rows.append((vid, vec, g))
            vid += 1
    # isolated singletons, pairwise-orthogonal to everything
    rows.append((vid, [0.0, 0.0, 0.0, 10.0], 99)); vid += 1
    rows.append((vid, [0.0, 0.0, 0.0, -10.0], 99)); vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )

    res = semdedup.semantic_dedup(
        df, k=4, max_iter=3, threshold=0.9
    ).collect()
    by_comp: dict[int, list] = {}
    for r in res:
        by_comp.setdefault(r["component"], []).append(r)
    # 3 planted groups + 2 singletons = 5 components
    assert len(by_comp) == 5
    for comp, members in by_comp.items():
        keepers = [m for m in members if m["is_keeper"]]
        assert len(keepers) == 1
        # keeper is the max sem_quality (farthest from centroid), min-id tie
        best = max(members, key=lambda m: (m["sem_quality"], -m["vec_id"]))
        assert keepers[0]["vec_id"] == best["vec_id"]
        for m in members:
            assert m["keeper_id"] == keepers[0]["vec_id"]
    sizes = sorted(len(m) for m in by_comp.values())
    assert sizes == [1, 1, 3, 3, 3]


def test_late_arrival_audit_planted_out_of_order(spark):
    """Planted out-of-order arrivals: rows arrive (by order_col) with one
    event 30 minutes behind the running high-watermark and one 5 minutes
    behind. With a 10-minute delay only the first counts as late; the
    max out-of-order depth is 1800s. Small bucket_size forces the
    distributed prefix-max path across buckets."""
    import datetime as dt

    from ups_crossref_etl_spark.operators.timeseries import late_arrival_audit

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "a"),
        (2, t0 + dt.timedelta(minutes=10), "a"),
        (3, t0 + dt.timedelta(minutes=20), "a"),      # wm now 12:20
        (4, t0 - dt.timedelta(minutes=10), "a"),      # 30 min behind -> late
        (5, t0 + dt.timedelta(minutes=15), "b"),      # 5 min behind -> not late
        (6, t0 + dt.timedelta(minutes=30), "b"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    got = {
        r["event_type"]: (r["n_total"], r["n_late"], r["max_ooo_s"])
        for r in late_arrival_audit(
            df, "event_id", "ts", "event_type", delay_seconds=600, bucket_size=2
        ).collect()
    }
    assert got["a"] == (4, 1, 1800)
    assert got["b"] == (2, 0, 300)


def test_wav_decode_roundtrip_and_edges(spark):
    """Real PCM WAV decode: 16-bit roundtrip is exact; stereo downmixes
    by channel mean; 8-bit unsigned normalizes around 128; garbage and
    empty payloads map to decode_ok=False instead of failing the task."""
    import io
    import struct
    import wave as wavemod

    import numpy as np

    from ups_crossref_etl_spark.operators.multimodal import (
        decode_wav,
        extract_wav_features,
        wav_encode_pcm16,
    )

    # 16-bit mono roundtrip
    samples = [0, 16384, -16384, 32767, -32768]
    x, rate = decode_wav(wav_encode_pcm16(samples, rate=16000))
    assert rate == 16000
    assert np.allclose(x, np.array(samples) / 32768.0)

    # stereo 16-bit: downmix = per-frame channel mean
    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 100, 300, -100, -300))
    x2, _ = decode_wav(buf.getvalue())
    assert np.allclose(x2, np.array([200.0, -200.0]) / 32768.0)

    # 8-bit unsigned: 128 is silence, 255 ~ +1, 0 = -1
    buf8 = io.BytesIO()
    with wavemod.open(buf8, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([128, 255, 0]))
    x3, _ = decode_wav(buf8.getvalue())
    assert np.allclose(x3, [(0) / 128.0, 127 / 128.0, -128 / 128.0])

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_wav(b"not a riff file at all........")

    # distributed path: good, garbage, and null payloads in one frame
    df = spark.createDataFrame(
        [
            (1, bytearray(wav_encode_pcm16([1000, -1000], rate=8000))),
            (2, bytearray(b"garbage")),
            (3, None),
        ],
        "asset_id long, payload binary",
    )
    got = {r["asset_id"]: r for r in extract_wav_features(df).collect()}
    assert got[1]["decode_ok"] and got[1]["n_samples"] == 2
    assert got[1]["sample_rate"] == 8000
    assert not got[2]["decode_ok"] and not got[3]["decode_ok"]


def test_char_entropy_known_values(spark):
    """Entropy ground truths: uniform single char -> 0 bits; 'ab' -> 1
    bit; 4 distinct equiprobable chars -> 2 bits; empty/null -> 0."""
    from ups_crossref_etl_spark.operators.text_analysis import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in char_entropy(df, "text", "doc_id").collect()}
    assert got[1]["entropy"] == 0.0
    assert got[2]["entropy"] == 1.0
    assert got[3]["entropy"] == 2.0
    assert got[4]["entropy"] == 0.0 and got[4]["n_chars_counted"] == 0
    assert got[5]["entropy"] == 0.0 and got[5]["n_chars_counted"] == 0


def test_profile_drift_detects_planted_drift(spark):
    """Planted drift: snapshot B nulls out half of col x and shrinks col
    y's range — the audit must report the null-fraction delta and the
    bounds change, and stay quiet on the unchanged column."""
    from ups_crossref_etl_spark.operators.profile import profile_drift
    from pyspark.sql import functions as F

    a = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("x"),  # bounds stable under nulling
        (F.col("id") % 10).alias("y"),
    )
    b = a.select(
        "id",
        F.when(F.col("id") % 2 == 0, F.col("x")).alias("x"),  # 50% nulls
        F.least(F.col("y"), F.lit(5)).alias("y"),             # max 9 -> 5
    )
    got = {r["column"]: r for r in profile_drift(a, b, ["x", "y"]).collect()}
    assert got["x"]["null_frac_a"] == 0.0 and got["x"]["null_frac_b"] == 0.5
    assert got["x"]["null_frac_delta"] == 0.5
    assert got["y"]["bounds_changed"] and not got["x"]["bounds_changed"]
    assert got["y"]["n_distinct_b"] < got["y"]["n_distinct_a"]


def test_bmp_decode_roundtrip_and_edges(spark):
    """Real BMP decode: encode->decode is pixel-exact for widths whose
    rows need 0..3 pad bytes; top-down (negative height) BMPs decode to
    the same array; garbage/short/compressed payloads raise ValueError
    and map to decode_ok=False on the distributed path."""
    import struct

    import numpy as np
    import pytest as _pytest

    from ups_crossref_etl_spark.operators.multimodal import (
        bmp_encode_rgb24,
        decode_bmp,
        extract_bmp_features,
    )

    rng = np.random.default_rng(7)
    for w in (3, 4, 5, 6):  # row pad 3, 0, 1, 2 bytes
        img = rng.integers(0, 256, size=(5, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(bmp_encode_rgb24(img)), img)

    # top-down variant: flip the stored row order and negate height
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    # encode stores img[::-1] bottom-up, i.e. rows land in img order;
    # flipping the height sign makes decode read them top-down => img
    enc = bytearray(bmp_encode_rgb24(img[::-1]))
    struct.pack_into("<i", enc, 22, -4)  # height = -4 => top-down
    assert np.array_equal(decode_bmp(bytes(enc)), img)

    with _pytest.raises(ValueError):
        decode_bmp(b"not a bmp")
    with _pytest.raises(ValueError):
        decode_bmp(bmp_encode_rgb24(img)[:30])  # truncated header

    df = spark.createDataFrame(
        [
            (1, bytearray(bmp_encode_rgb24(img))),
            (2, bytearray(b"garbage")),
            (3, None),
        ],
        "asset_id long, payload binary",
    )
    got = {r["asset_id"]: r for r in extract_bmp_features(df).collect()}
    assert got[1]["decode_ok"]
    assert (got[1]["width"], got[1]["height"], got[1]["n_pixels"]) == (4, 4, 16)
    px = img.astype(np.int64)
    assert got[1]["total_gray"] == int(
        (299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]).sum()
    )
    assert not got[2]["decode_ok"] and not got[3]["decode_ok"]


def test_dhash_neardup_finds_planted_twin(spark):
    """A one-pixel perturbation outside the sample grid's compared cells
    moves dHash by at most 1 bit, so the banded pipeline must surface the
    (base, twin) pair; an unrelated random image must NOT pair with them
    at hamming <= 3 (pigeonhole recall is exact, verify is bit_count)."""
    import numpy as np

    from ups_crossref_etl_spark.operators.multimodal import (
        bmp_encode_rgb24,
        dhash_neardup_pairs,
        extract_bmp_features,
    )

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, size=(16, 18, 3), dtype=np.uint8)
    twin = base.copy()
    twin[0, 0, 0] = (int(twin[0, 0, 0]) + 64) % 256
    other = rng.integers(0, 256, size=(16, 18, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(bmp_encode_rgb24(base))),
            (2, bytearray(bmp_encode_rgb24(twin))),
            (3, bytearray(bmp_encode_rgb24(other))),
        ],
        "asset_id long, payload binary",
    )
    feats = extract_bmp_features(df)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dhash_neardup_pairs(feats, max_hamming=3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 1
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_nb_classify_planted_vocab(spark):
    """NB ground truth: disjoint per-label vocabularies classify exactly;
    a mixed doc goes to the label with more evidence; an all-unseen-token
    doc falls back to the prior argmax (label with more training docs)."""
    from ups_crossref_etl_spark.operators.text_analysis import nb_classify

    train = spark.createDataFrame(
        [
            (1, "aa bb aa", "A"),
            (2, "aa bb", "A"),
            (3, "cc dd cc", "B"),
        ],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [
            (10, "aa aa bb"),
            (11, "cc dd"),
            (12, "aa cc cc"),
            (13, "zz qq"),  # unseen everywhere -> prior argmax = A (2 docs)
            (14, ""),  # zero tokens -> prior argmax = A
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["predicted"]
        for r in nb_classify(train, test, "text", "doc_id", "lang").collect()
    }
    assert got[10] == "A" and got[11] == "B" and got[12] == "B"
    assert got[13] == "A" and got[14] == "A"


def test_incremental_mv_apply_matches_full_recompute(spark, tmp_path):
    """The MV invariant: apply(MV(base), delta) == MV(base - deletes +
    inserts), including a key dropping out at count 0 and a brand-new
    key arriving — checked against a from-scratch rebuild."""
    from ups_crossref_etl_spark.operators.incremental_mv import (
        build_mv,
        incremental_mv_apply,
    )

    base = spark.createDataFrame(
        [("a", 1.5), ("a", 2.5), ("b", 10.0), ("c", 7.0)],
        "k string, v double",
    )
    mv = build_mv(base, ["k"], ["v"])
    # delete both 'a' rows (key drops out), delete one 'b'? no — delete
    # nothing of b; insert a new 'd' key and another 'c' row
    delta = spark.createDataFrame(
        [
            ("a", 1.5, "D"),
            ("a", 2.5, "D"),
            ("c", 3.0, "I"),
            ("d", 4.0, "I"),
        ],
        "k string, v double, op string",
    )
    got = {
        r["k"]: (r["n_rows"], float(r["sum_v"]))
        for r in incremental_mv_apply(mv, delta, ["k"], ["v"]).collect()
    }
    assert "a" not in got  # count reached zero -> dropped
    assert got["b"] == (1, 10.0)  # untouched key passes through
    assert got["c"] == (2, 10.0)
    assert got["d"] == (1, 4.0)

    # invariant vs full recompute on the merged state
    merged = spark.createDataFrame(
        [("b", 10.0), ("c", 7.0), ("c", 3.0), ("d", 4.0)],
        "k string, v double",
    )
    full = {
        r["k"]: (r["n_rows"], float(r["sum_v"]))
        for r in build_mv(merged, ["k"], ["v"]).collect()
    }
    assert got == full


def test_hybrid_skew_join_equals_plain_join(spark):
    """The hybrid's contract: union(hot broadcast branch, cold shuffled
    branch) == plain join, for inner AND left (unmatched fact rows kept
    with nulls); right/full raise."""
    import pytest as _pytest

    from ups_crossref_etl_spark.operators.skew import hybrid_skew_join

    fact = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "d"), (3, "e"), (9, "f")],
        "k long, payload string",
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "cold"), (3, "cold")], "k long, tag string"
    )

    def rows(df):
        return sorted((r["k"], r["payload"], r["tag"]) for r in df.collect())

    plain = fact.join(dim, "k", "inner")
    hybrid = hybrid_skew_join(fact, dim, "k", min_hot_count=3)
    assert rows(hybrid) == rows(plain)

    plain_l = fact.join(dim, "k", "left")
    hybrid_l = hybrid_skew_join(fact, dim, "k", min_hot_count=3, how="left")
    assert rows(hybrid_l) == rows(plain_l)  # k=9 survives with null tag

    with _pytest.raises(ValueError):
        hybrid_skew_join(fact, dim, "k", how="full")


def test_connected_components_long_chain_converges(spark):
    """A 40-node path graph (diameter 39) must fully merge within the
    default max_iter=10 — pointer-halving makes rounds O(log diameter),
    where plain min-label propagation would need 39 and previously left
    the semantic near-dup graph split at sf0.1."""
    import warnings

    from ups_crossref_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "src long, dst long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # non-convergence warning -> fail
        comp = connected_components(edges)
        labels = {r["component"] for r in comp.collect()}
    assert labels == {0}


def test_tfidf_knn_graph_hand_computed(spark):
    """5-doc corpus with a ubiquitous token: 'the' (df=5) exceeds the
    0.9*5=4 df cap and is dropped, leaving two disjoint token cliques;
    cos values are hand-computed (idf scales out of cosine)."""
    from ups_crossref_etl_spark.operators.retrieval import tfidf_knn_graph

    docs = spark.createDataFrame(
        [
            (1, "the apple banana apple"),
            (2, "the apple banana"),
            (3, "the cherry date cherry date"),
            (4, "the cherry date"),
            (5, "the the"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_knn_graph(
        docs, "text", "doc_id", k=3, max_df_frac=0.9, ngram=1
    )
    rows = {
        (r["doc_id"], r["neighbor_id"]): (r["cos"], r["rank"])
        for r in out.collect()
    }
    # cos(1,2) = (2+1)/(sqrt(5)*sqrt(2)) = 0.9487; cos(3,4) = 4/(sqrt(8)*sqrt(2)) = 1
    assert rows == {
        (1, 2): (0.9487, 1),
        (2, 1): (0.9487, 1),
        (3, 4): (1.0, 1),
        (4, 3): (1.0, 1),
    }


def test_bloom_membership_no_false_negatives(spark):
    """Contract: every true member probes true; with a deliberately
    saturated tiny filter (1 word / 32 bits, 20 members) the
    false-positive path is exercised too — deterministically, since the
    md5-derived bit positions are fixed."""
    from ups_crossref_etl_spark.operators.membership import (
        bloom_build,
        bloom_probe,
    )

    members = [(f"m{i}",) for i in range(20)]
    others = [(f"x{i}",) for i in range(100)]
    mdf = spark.createDataFrame(members, "v string")
    pdf = spark.createDataFrame(members + others, "v string").withColumn(
        "pid", F.monotonically_increasing_id()
    )
    bloom = bloom_build(mdf, "v", num_words=1, num_hashes=1)
    got = {
        r["v"]: r["might_contain"]
        for r in bloom_probe(
            pdf, "v", "v", bloom, num_words=1, num_hashes=1
        ).collect()
    }
    assert all(got[f"m{i}"] for i in range(20))  # no false negatives
    fps = sum(1 for i in range(100) if got[f"x{i}"])
    assert 0 < fps < 100  # saturated filter: some FPs, not all

    # roomy filter: same members, 256 words / 3 hashes -> zero FPs here
    bloom2 = bloom_build(mdf, "v", num_words=256, num_hashes=3)
    got2 = {
        r["v"]: r["might_contain"]
        for r in bloom_probe(pdf, "v", "v", bloom2).collect()
    }
    assert all(got2[f"m{i}"] for i in range(20))
    assert not any(got2[f"x{i}"] for i in range(100))


def test_hll_sketch_merge_equals_rebuild(spark):
    """The algebraic contract behind incremental sketch maintenance:
    union of per-part sketches == sketch of the whole, exactly (same
    lg_k, same input set), and estimates are exact for small-cardinality
    inputs (HLL stores small sets losslessly in sparse mode)."""
    from ups_crossref_etl_spark.operators.sketches import (
        hll_rollup,
        hll_sketch_table,
    )

    df = spark.createDataFrame(
        [(d, u) for d in range(4) for u in range(d * 10, d * 10 + 25)],
        "day int, user_id long",
    ).withColumn("grp", F.lit("a"))
    daily = hll_sketch_table(df, "user_id", ["grp", "day"])
    assert daily.count() == 4
    rolled = hll_rollup(daily, ["grp"])
    direct = hll_sketch_table(df, "user_id", ["grp"])
    # distinct users = 4*25 minus overlaps: days overlap by 15 each step
    exact = df.select("user_id").distinct().count()
    r = rolled.collect()[0]
    d = direct.collect()[0]
    assert r["est"] == d["est"]
    assert abs(r["est"] - exact) / exact <= 0.05


def test_cms_never_undercounts_and_bounds(spark):
    """CM invariants on a skewed value set: est >= true for every value
    (collisions only add), exact for values whose slots are collision-
    free, and the heavy hitter's estimate is near-exact (its counter
    dwarfs collision noise)."""
    from ups_crossref_etl_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    rows = [("hot",)] * 500 + [(f"cold{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, "v string")
    cms = cms_build(df, "v", width=256, depth=3)
    probe = df.select("v").distinct()
    est = {
        r["v"]: r["est_count"]
        for r in cms_estimate(probe, "v", cms, width=256, depth=3).collect()
    }
    assert est["hot"] >= 500
    assert est["hot"] <= 500 + 50  # collision noise bounded by cold mass
    for i in range(50):
        assert est[f"cold{i}"] >= 1


def test_rp_project_distance_preservation(spark):
    """JL contract on deterministic vectors: projection is reproducible
    (fixed sign matrix), scaled so E[||proj||^2] = ||v||^2, and pairwise
    dot signs are mostly preserved at 16 dims for near-orthogonal input."""
    import math

    from ups_crossref_etl_spark.operators.similarity import (
        rp_project,
        rp_sign_matrix,
    )

    m = rp_sign_matrix(8, 4)
    assert len(m) == 4 and all(len(r) == 8 for r in m)
    assert all(v in (1, -1) for r in m for v in r)
    # derivation pinned: first row begins with the md5-parity signs
    import hashlib

    exp0 = [
        1 if int(hashlib.md5(f"{i}:0".encode()).hexdigest()[:15], 16) % 2 == 0
        else -1
        for i in range(8)
    ]
    assert m[0] == exp0

    df = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 5 - 2) for d in range(64)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    out = rp_project(df, "embedding", "vec_id", out_dim=16).toPandas()
    assert set(out["j"]) == set(range(16))
    # norm preservation in expectation: mean ratio within 3x either way
    import numpy as np

    orig = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    ratios = []
    for vid, grp in out.groupby("vec_id"):
        pn = float((grp["val"] ** 2).sum())
        on = float((orig[vid] ** 2).sum())
        if on > 0:
            ratios.append(pn / on)
    mean_ratio = sum(ratios) / len(ratios)
    assert 1 / 3 < mean_ratio < 3


def test_windowed_ewma_hand_computed(spark):
    """3-row series, alpha=0.5, window=2: ewma_1 = 1.0 (single obs,
    normalized), ewma_2 = (2 + 0.5*1)/(1.5) = 1.6667,
    ewma_3 = (3 + 0.5*2)/1.5 = 2.6667 (row 1 fell out of the window)."""
    from ups_crossref_etl_spark.operators.timeseries import windowed_ewma

    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 2.0), (1, 3, 3.0)],
        "k long, t long, value double",
    )
    out = {
        r["t"]: r["ewma"]
        for r in windowed_ewma(
            df, "k", ["t"], "value", alpha=0.5, window=2
        ).collect()
    }
    assert out == {1: 1.0, 2: 1.6667, 3: 2.6667}


def test_standardize_embeddings_hand_computed(spark):
    """2-dim corpus: dim 0 has values (1, 3) -> mu=2, sigma=1 -> z = -1, 1;
    dim 1 is constant -> sigma=0 -> z = 0 for all rows."""
    from ups_crossref_etl_spark.operators.similarity import (
        standardize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [3.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        (r["vec_id"], r["j"]): r["zval"]
        for r in standardize_embeddings(df, "embedding", "vec_id").collect()
    }
    assert out == {(1, 0): -1.0, (2, 0): 1.0, (1, 1): 0.0, (2, 1): 0.0}


def test_rrf_fuse_hand_computed(spark):
    """Two 3-item lists with one overlap: the doc ranked 1st+2nd beats
    both single-list rank-1 docs; absent lists contribute nothing."""
    from ups_crossref_etl_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], "doc long, rank long")
    b = spark.createDataFrame([(11, 1), (13, 2), (14, 3)], "doc long, rank long")
    out = rrf_fuse([a, b], "doc", k_rrf=60, topk=5)
    rows = [(r["doc"], r["rrf_score"], r["n_sources"]) for r in out.collect()]
    # doc 11: 1/62 + 1/61 = 0.0325224...; doc 10: 1/61 = 0.016393; doc 13: 1/62
    assert rows[0] == (11, 0.032522, 2)
    assert rows[1] == (10, 0.016393, 1)
    assert {r[0] for r in rows} == {10, 11, 12, 13, 14}


def test_nucleus_select_minimal_prefix(spark):
    """Group with weights 50, 30, 15, 5 (total 100), p=0.8: prefix sums
    50, 80, 95 — row 3 starts at 80 which is NOT < 80, so exactly
    {50, 30} are kept (the minimal prefix covering 0.8). A zero-total
    group keeps nothing."""
    from ups_crossref_etl_spark.operators.sampling import nucleus_select

    df = spark.createDataFrame(
        [("a", 1, 50), ("a", 2, 30), ("a", 3, 15), ("a", 4, 5),
         ("z", 9, 0)],
        "g string, id long, w long",
    )
    out = nucleus_select(df, "g", "w", "id", p=0.8)
    rows = {r["id"]: r["cum_frac"] for r in out.collect()}
    assert rows == {1: 0.5, 2: 0.8}


def test_interval_union_length_hand_computed(spark):
    """Overlapping [0,10),[5,15) merge to one island of 15; touching
    [20,30),[30,40) merge (start == prev end is NOT a gap); [100,101)
    is its own island. Totals: 3 islands, 15+20+1 = 36 covered."""
    from ups_crossref_etl_spark.operators.timeseries import (
        interval_union_length,
    )

    df = spark.createDataFrame(
        [(1, 0, 10), (1, 5, 15), (1, 20, 30), (1, 30, 40), (1, 100, 101)],
        "k long, s long, e long",
    )
    r = interval_union_length(df, "k", "s", "e").collect()[0]
    assert (r["n_intervals"], r["n_islands"], r["covered_total"]) == (5, 3, 36)


def test_binary_auc_matches_closed_form(spark):
    """Hand-checkable cases: perfect separation -> 1.0; perfect
    inversion -> 0.0; all-tied scores -> 0.5 (midranks); degenerate
    single-class input -> NULL."""
    from ups_crossref_etl_spark.operators.evaluation import binary_auc

    perfect = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "s double, y int"
    )
    assert binary_auc(perfect, "s", "y").collect()[0]["auc"] == 1.0
    inverted = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 0), (4.0, 0)], "s double, y int"
    )
    assert binary_auc(inverted, "s", "y").collect()[0]["auc"] == 0.0
    tied = spark.createDataFrame(
        [(5.0, 1), (5.0, 0), (5.0, 1), (5.0, 0)], "s double, y int"
    )
    assert binary_auc(tied, "s", "y").collect()[0]["auc"] == 0.5
    onecls = spark.createDataFrame([(1.0, 1), (2.0, 1)], "s double, y int")
    assert binary_auc(onecls, "s", "y").collect()[0]["auc"] is None
    # mixed ties: scores [1,1,2], labels [0,1,1]:
    # avgranks: 1.5, 1.5, 3; AUC = (1.5+3 - 2*3/2) / (2*1) = 0.75
    mixed = spark.createDataFrame(
        [(1.0, 0), (1.0, 1), (2.0, 1)], "s double, y int"
    )
    assert binary_auc(mixed, "s", "y").collect()[0]["auc"] == 0.75


def test_table_digest_order_insensitive_and_null_sentinel(spark):
    """Same multiset in different row orders -> same digest; changing a
    cell changes it; NULL vs empty string hash differently."""
    from ups_crossref_etl_spark.operators.profile import table_digest

    a = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "z")], "k long, v string"
    )
    b = spark.createDataFrame(
        [(3, "z"), (1, "x"), (2, None)], "k long, v string"
    ).repartition(5)
    da = table_digest(a, ["k", "v"]).collect()[0]
    db = table_digest(b, ["k", "v"]).collect()[0]
    assert (da["n_rows"], da["digest"]) == (db["n_rows"], db["digest"])
    c = spark.createDataFrame(
        [(1, "x"), (2, ""), (3, "z")], "k long, v string"
    )
    dc = table_digest(c, ["k", "v"]).collect()[0]
    assert dc["digest"] != da["digest"]


def test_mean_shift_scores_detects_level_change(spark):
    """Series of 10 zeros then 10 tens (w=5): the score peaks at 5.0+
    right after the jump once both windows are full, is 0 inside the
    flat regions, and NULL while fewer than 2w rows precede."""
    from ups_crossref_etl_spark.operators.timeseries import (
        mean_shift_scores,
    )

    rows = [(1, t, 0.0 if t < 10 else 10.0) for t in range(20)]
    df = spark.createDataFrame(rows, "k long, t long, value double")
    out = {
        r["t"]: r["shift_score"]
        for r in mean_shift_scores(df, "k", ["t"], "value", w=5).collect()
    }
    assert all(out[t] is None for t in range(9))  # windows not yet full
    assert out[9] == 0.0  # both windows in the flat region
    assert out[14] == 10.0  # recent all 10s, prior all 0s
    assert out[19] == 0.0  # both windows past the jump


def test_calibration_bins_shape_and_rates(spark):
    """20 rows, scores 0..19, label = score >= 10, 4 bins of 5: bins
    1-2 all negative, bins 3-4 all positive; mean scores are the bin
    midpoints."""
    from ups_crossref_etl_spark.operators.evaluation import (
        calibration_bins,
    )

    df = spark.createDataFrame(
        [(i, float(i), 1 if i >= 10 else 0) for i in range(20)],
        "id long, s double, y int",
    )
    out = {
        r["bin"]: (r["n"], r["mean_score"], r["pos_rate"])
        for r in calibration_bins(df, "s", "y", "id", n_bins=4).collect()
    }
    assert out == {
        1: (5, 2.0, 0.0),
        2: (5, 7.0, 0.0),
        3: (5, 12.0, 1.0),
        4: (5, 17.0, 1.0),
    }


def test_quantile_normalize_aligns_distributions(spark):
    """Two groups with shifted-identical shapes (a: 1..4, b: 101..104):
    each group's values map onto the same global positions pattern, and
    the extremes map to the global min/max."""
    from ups_crossref_etl_spark.operators.corpus import quantile_normalize

    rows = [("a", i, i) for i in range(1, 5)] + [
        ("b", 100 + i, 100 + i) for i in range(1, 5)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    out = {r["id"]: r["norm_value"] for r in
           quantile_normalize(df, "g", "v", "id").collect()}
    # within-group pr: 0, 1/3, 2/3, 1 -> global pos round(pr*7)+1 = 1,3,6,8
    # global sorted values: 1,2,3,4,101,102,103,104
    assert out[1] == 1 and out[101] == 1      # both group minima -> global min
    assert out[4] == 104 and out[104] == 104  # both maxima -> global max
    assert out[2] == 3 and out[102] == 3      # pr=1/3 -> pos 3
    assert out[3] == 102 and out[103] == 102  # pr=2/3 -> pos 6


def test_wav_spectrum_detects_tone(spark):
    """A bin-aligned 1000 Hz tone (bin 32 at 256 samples / 8 kHz) must
    put the FFT argmax exactly on bin 32; a garbage payload reports
    decode_ok=False."""
    import math

    from ups_crossref_etl_spark.operators.multimodal import (
        extract_wav_spectrum,
        wav_encode_pcm16,
    )

    samples = [
        int(round(30000 * math.sin(2 * math.pi * 1000 * i / 8000)))
        for i in range(256)
    ]
    wav = wav_encode_pcm16(samples, rate=8000)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not a wav"))],
        "asset_id long, payload binary",
    )
    out = {r["asset_id"]: r for r in extract_wav_spectrum(df).collect()}
    assert out[1]["decode_ok"] and out[1]["dominant_bin"] == 32
    assert abs(out[1]["dominant_hz"] - 1000.0) < 1e-9
    assert not out[2]["decode_ok"]


def test_approx_bin_assign_balanced_on_uniform(spark):
    """1000 distinct uniform values into 10 bins: every bin within a few
    % of 100 rows, bins ordered by value (bin is monotone in score)."""
    from ups_crossref_etl_spark.operators.evaluation import approx_bin_assign

    df = spark.createDataFrame([(i, i) for i in range(1000)], "id long, v long")
    out = approx_bin_assign(df, "v", n_bins=10)
    sizes = {r["bin"]: r["cnt"] for r in
             out.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(sizes) == set(range(1, 11))
    assert all(abs(n - 100) <= 10 for n in sizes.values())
    # monotone: the max value in bin b is < min value in bin b+1
    ext = {r["bin"]: (r["lo"], r["hi"]) for r in
           out.groupBy("bin").agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()}
    for b in range(1, 10):
        assert ext[b][1] < ext[b + 1][0]


def test_quantile_normalize_approx_tracks_exact(spark):
    """On shifted-identical groups the approx-grid mapping must agree
    with the exact mapping up to grid quantization — here the grid is
    dense relative to 8 rows, so values match the exact op's output."""
    from ups_crossref_etl_spark.operators.corpus import (
        quantile_normalize,
        quantile_normalize_approx,
    )

    rows = [("a", i, i) for i in range(1, 5)] + [
        ("b", 100 + i, 100 + i) for i in range(1, 5)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    exact = {r["id"]: r["norm_value"] for r in
             quantile_normalize(df, "g", "v", "id").collect()}
    approx = {r["id"]: r["norm_value"] for r in
              quantile_normalize_approx(df, "g", "v", "id", grid=1000).collect()}
    for k in exact:
        assert abs(approx[k] - exact[k]) <= 1  # within one value step


def test_transition_and_ab_readout_queries_hand_checked(spark, tmp_path):
    """Drive the two gate-only analytics through tiny hand-built events:
    transition probabilities are exact ratios; the A/B readout reports
    both arms with the deterministic hash assignment."""
    import os

    from ups_crossref_etl_spark.plans.registry import load_all

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1, "a", 1.0, "{}"),
            (2, "2024-01-01 00:01:00", 1, "b", 2.0, "{}"),
            (3, "2024-01-01 00:02:00", 1, "a", 3.0, "{}"),
            (4, "2024-01-01 00:00:30", 2, "a", 4.0, "{}"),
            (5, "2024-01-01 00:01:30", 2, "b", 5.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    p = str(tmp_path)
    ev.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(p, "events.parquet")
    )
    qs = load_all()
    tm = {
        (r["prev_type"], r["next_type"]): (r["n_transitions"], r["p_next"])
        for r in qs["q_events_transition_matrix"].fn(spark, p).collect()
    }
    # user1: a->b, b->a; user2: a->b  => a->b n=2 p=1.0; b->a n=1 p=1.0
    assert tm == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}
    ab = qs["q_events_ab_readout"].fn(spark, p).collect()[0]
    assert ab["n_a"] + ab["n_b"] == 5 and ab["n_a"] > 0 and ab["n_b"] > 0


def test_rp_two_stage_topk_subset_of_pool_and_exact_at_full_pool(spark, sf_dir):
    """With pool_frac=1.0 the two-stage result must equal exact brute
    force (stage 1 keeps everything); with a partial pool it returns k
    rows whose cosines are computed on the FULL vectors."""
    from ups_crossref_etl_spark.operators import similarity as sim
    from ups_crossref_etl_spark.sources.lake import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [tuple(r) for r in sim.brute_force_topk(emb, q, k=10).collect()]
    full = [tuple(r) for r in sim.rp_two_stage_topk(emb, q, k=10, pool_frac=1.0).collect()]
    assert full == exact
    part = sim.rp_two_stage_topk(emb, q, k=10, pool_frac=0.3).collect()
    assert len(part) == 10
    exact_cos = dict(exact)
    for r in part:
        if r["vec_id"] in exact_cos:
            assert r["cos_sim"] == exact_cos[r["vec_id"]]
