"""Empirical scaling probe: replicate the sf0.1 tables N× in memory-less
fashion (explode with a salt, ids re-keyed so they stay unique) and time
the heavy operators. Output: SCALE_PROBE.json with (rows, seconds) pairs —
evidence the shuffle shapes scale ~linearly, not just claims.

    python tools/scale_probe.py [replication] [probe_name ...]

With probe names, only those probes run and their results are MERGED
into the existing SCALE_PROBE.json (same replication factor assumed);
without, the full battery runs and the file is rewritten.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import _sentinel
from ups_crossref_etl_spark.operators import corpus, dedup, similarity as sim
from ups_crossref_etl_spark.session import get_spark
from ups_crossref_etl_spark.sources.lake import read_table

SF_DIR = "/root/testdata/sf0.1"


def replicate(df, id_col, n):
    """n copies with re-keyed ids (id*n + salt) — unique keys, same data
    distribution (near-dup structure replicates too, which is the hard
    case for LSH bucket sizes)."""
    return (
        df.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
        .withColumn(id_col, F.col(id_col) * n + F.col("_salt"))
        .drop("_salt")
    )


def timed(fn):
    t0 = time.time()
    out = fn()
    return round(time.time() - t0, 2), out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = set(sys.argv[2:])
    spark = get_spark("scale_probe")
    results = {"replication": n, "probes": {}}
    # JVM/codegen warmup so sentinel_pre measures box contention, not
    # Spark spin-up
    spark.range(0, 10_000_000, 1, 32).selectExpr("sum(id)").collect()
    sent_pre = _sentinel(spark)

    docs1 = read_table(spark, SF_DIR, "documents")
    docsN = replicate(docs1, "doc_id", n).localCheckpoint()
    li1 = read_table(spark, SF_DIR, "lineitem")
    liN = replicate(li1, "l_orderkey", n).localCheckpoint()
    emb1 = read_table(spark, SF_DIR, "embeddings")
    embN = replicate(emb1, "vec_id", n).localCheckpoint()

    def probe(name, small_fn, big_fn, small_rows, big_rows):
        if only and name not in only:
            return
        t_small, _ = timed(small_fn)
        t_big, _ = timed(big_fn)
        results["probes"][name] = {
            "replication": n,
            "rows_1x": small_rows,
            "rows_Nx": big_rows,
            "sec_1x": t_small,
            "sec_Nx": t_big,
            "slope_vs_linear": round((t_big / max(t_small, 1e-9)) / n, 2),
        }

    probe(
        "q1_style_agg",
        lambda: li1.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.count(F.lit(1))).collect(),
        lambda: liN.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.count(F.lit(1))).collect(),
        li1.count(), liN.count(),
    )
    probe(
        "exact_dedup",
        lambda: dedup.exact_dup_groups(docs1, "text", "doc_id").count(),
        lambda: dedup.exact_dup_groups(docsN, "text", "doc_id").count(),
        docs1.count(), docsN.count(),
    )
    probe(
        "minhash_candidates",
        lambda: dedup.minhash_lsh_candidates(docs1, "text", "doc_id",
                                             num_hashes=32, bands=8).count(),
        lambda: dedup.minhash_lsh_candidates(docsN, "text", "doc_id",
                                             num_hashes=32, bands=8).count(),
        docs1.count(), docsN.count(),
    )
    probe(
        "corpus_pipeline",
        lambda: corpus.corpus_report(corpus.clean_corpus(docs1)).collect(),
        lambda: corpus.corpus_report(corpus.clean_corpus(docsN)).collect(),
        docs1.count(), docsN.count(),
    )
    qv = [0.1] * 64
    probe(
        "bruteforce_topk",
        lambda: sim.brute_force_topk(emb1, qv, k=10).collect(),
        lambda: sim.brute_force_topk(embN, qv, k=10).collect(),
        emb1.count(), embN.count(),
    )

    from ups_crossref_etl_spark.operators import sampling

    def assign_count(d):
        # narrow-projection ops: split + stratified filter, no shuffle
        s = sampling.split_assign(d, "doc_id")
        return sampling.stratified_sample(
            s, "source", "doc_id", rates={"src0": 0.1}, default_rate=0.25
        ).count()

    probe(
        "sampling_assign",
        lambda: assign_count(docs1),
        lambda: assign_count(docsN),
        docs1.count(), docsN.count(),
    )

    def pack_count(d):
        toks = d.select(
            "source", "doc_id",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
        )
        return sampling.pack_sequences(
            toks, "n_tok", "doc_id", budget=2048, part_col="source"
        ).groupBy("source", "pack_bin").count().count()

    probe(
        "pack_sequences",
        lambda: pack_count(docs1),
        lambda: pack_count(docsN),
        docs1.count(), docsN.count(),
    )

    def inc_dedup_count(d):
        inc = d.filter(F.col("doc_id") % 5 == 0)
        cor = d.filter(F.col("doc_id") % 5 != 0)
        return dedup.incremental_dedup(
            inc, cor, "text", "doc_id", num_hashes=32, bands=8
        ).count()

    probe(
        "incremental_dedup",
        lambda: inc_dedup_count(docs1),
        lambda: inc_dedup_count(docsN),
        docs1.count(), docsN.count(),
    )

    from ups_crossref_etl_spark.operators import text_analysis as ta

    probe(
        "vocab_top1000",
        lambda: ta.top_vocab(docs1, "text", "doc_id", k=1000).count(),
        lambda: ta.top_vocab(docsN, "text", "doc_id", k=1000).count(),
        docs1.count(), docsN.count(),
    )

    # benchmark side stays FIXED while the corpus replicates — the realistic
    # decontamination shape (eval suites don't grow with the corpus)
    bench = docs1.filter(F.col("doc_id") % 50 == 0).localCheckpoint()

    probe(
        "contamination_probe",
        lambda: dedup.ngram_contamination(
            docs1, bench, "text", "doc_id", n=5
        ).count(),
        lambda: dedup.ngram_contamination(
            docsN, bench, "text", "doc_id", n=5
        ).count(),
        docs1.count(), docsN.count(),
    )

    # query stays FIXED while the corpus replicates — retrieval's realistic
    # shape (the matched-rows shuffle grows, the broadcast stats do not)
    from ups_crossref_etl_spark.operators.retrieval import bm25_topk

    probe(
        "bm25_topk",
        lambda: bm25_topk(
            docs1, "text", "doc_id", ["join", "spark", "stream", "vector"], k=10
        ).collect(),
        lambda: bm25_topk(
            docsN, "text", "doc_id", ["join", "spark", "stream", "vector"], k=10
        ).collect(),
        docs1.count(), docsN.count(),
    )

    probe(
        "unigram_nll",
        lambda: ta.unigram_nll(docs1, "text", "doc_id").count(),
        lambda: ta.unigram_nll(docsN, "text", "doc_id").count(),
        docs1.count(), docsN.count(),
    )

    from ups_crossref_etl_spark.operators.scd import intervals_from_log

    ev1 = read_table(spark, SF_DIR, "events")
    evN = replicate(ev1, "user_id", n).localCheckpoint()
    probe(
        "scd2_intervals",
        lambda: intervals_from_log(ev1, "user_id", "event_type", "ts").count(),
        lambda: intervals_from_log(evN, "user_id", "event_type", "ts").count(),
        ev1.count(), evN.count(),
    )

    # graph scale: the user->user interaction graph replicates with
    # re-keyed node ids (disjoint components per salt), so edges grow N x
    # while per-iteration shuffle stays key-clustered
    from ups_crossref_etl_spark.operators.pagerank import pagerank

    e1 = (
        ev1.alias("a").join(ev1.alias("b"), "event_type")
        .filter(F.col("a.user_id") != F.col("b.user_id"))
        .select(F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst"))
        .distinct().localCheckpoint()
    )
    eN = (
        e1.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
        .select(
            (F.col("src") * n + F.col("_salt")).alias("src"),
            (F.col("dst") * n + F.col("_salt")).alias("dst"),
        ).localCheckpoint()
    )
    probe(
        "pagerank_3iter",
        lambda: pagerank(e1, n_iter=3).count(),
        lambda: pagerank(eN, n_iter=3).count(),
        e1.count(), eN.count(),
    )

    # blocked fuzzy linkage: every token is re-keyed per salt (token ->
    # token+salt), so the BLOCK STRUCTURE replicates — N disjoint copies
    # of the same blocks, the realistic "more distinct entities" growth
    # (suffixing whole names instead would pool all salts into shared
    # blocks and probe quadratic block-collapse, not corpus growth)
    from ups_crossref_etl_spark.operators.linkage import fuzzy_match_pairs

    part1 = read_table(spark, SF_DIR, "part")
    names1 = part1.groupBy("p_name").agg(F.min("p_partkey").alias("pid"))
    namesN = (
        names1.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
        .select(
            (F.col("pid") * n + F.col("_salt")).alias("pid"),
            F.concat_ws(
                " ",
                F.transform(
                    F.split("p_name", " "),
                    lambda t: F.concat(t, F.lit("x"), F.col("_salt").cast("string")),
                ),
            ).alias("p_name"),
        ).localCheckpoint()
    )
    probe(
        "fuzzy_linkage",
        lambda: fuzzy_match_pairs(names1, "p_name", "pid", max_edit=3).count(),
        lambda: fuzzy_match_pairs(namesN, "p_name", "pid", max_edit=3).count(),
        names1.count(), namesN.count(),
    )

    # round 5: span removal (replicated near-dup text makes common grams
    # MORE common — the adversarial case for the gram groupBy) and
    # bigram scoring (vocab-sized model, corpus-sized tf rows)
    from ups_crossref_etl_spark.operators.spans import remove_common_spans

    def span_full(d):
        # sum over cleaned_text defeats column pruning: a bare count()
        # would let Catalyst skip the rebuild entirely
        return (
            remove_common_spans(d, "text", "doc_id")
            .agg(F.sum(F.length("cleaned_text")))
            .collect()
        )

    probe(
        "span_removal",
        lambda: span_full(docs1),
        lambda: span_full(docsN),
        docs1.count(), docsN.count(),
    )

    probe(
        "bigram_nll",
        lambda: ta.bigram_nll(docs1, "text", "doc_id").count(),
        lambda: ta.bigram_nll(docsN, "text", "doc_id").count(),
        docs1.count(), docsN.count(),
    )

    # round 5: cohort retention (users grow Nx, events/user constant — the
    # realistic growth; state stays |users| x 9 regardless of event volume)
    def cohort_count(ev):
        firsts = ev.groupBy("user_id").agg(
            F.date_trunc("week", F.min("ts")).alias("cohort_week")
        )
        activity = (
            ev.join(firsts, "user_id")
            .select(
                "user_id",
                "cohort_week",
                F.floor(
                    (
                        F.unix_timestamp(F.date_trunc("week", F.col("ts")))
                        - F.unix_timestamp("cohort_week")
                    )
                    / (7 * 86400)
                ).alias("week_offset"),
            )
            .distinct()
        )
        return (
            activity.filter(F.col("week_offset") <= 8)
            .groupBy("cohort_week", "week_offset")
            .count()
            .count()
        )

    probe(
        "cohort_retention",
        lambda: cohort_count(ev1),
        lambda: cohort_count(evN),
        ev1.count(), evN.count(),
    )

    # round 5: recursive-CTE bounded walks. Both l_orderkey AND l_suppkey
    # are re-keyed per salt so the co-supply graph replicates into N
    # disjoint copies (re-keying only orders would dedup the edge set back
    # to 1x); seeds scale with the graph (src < 20*N covers the same 20
    # logical seeds in every copy).
    li_both_N = (
        li1.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
        .withColumn("l_orderkey", F.col("l_orderkey") * n + F.col("_salt"))
        .withColumn("l_suppkey", F.col("l_suppkey") * n + F.col("_salt"))
        .drop("_salt")
        .localCheckpoint()
    )

    def walks_count(li_df, seed_bound):
        # degree-capped edge relation, same as the gate query — uncapped
        # 2-hop enumeration grows with hub degree squared and exceeds
        # the engine recursion guard exactly as corpus density grows
        li_df.createOrReplaceTempView("lineitem")
        return spark.sql(
            f"""
            WITH RECURSIVE pe AS (
              SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
            e AS (
              SELECT src, dst FROM (
                SELECT src, dst,
                       row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
                FROM (
                  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
                  FROM pe a JOIN pe b
                    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
                  GROUP BY a.l_suppkey, b.l_suppkey))
              WHERE rn <= 5),
            walk(start, node, hops) AS (
              SELECT src, src, 0
              FROM (SELECT DISTINCT src FROM e WHERE src < {seed_bound}) s
              UNION ALL
              SELECT w.start, e.dst, w.hops + 1
              FROM walk w JOIN e ON e.src = w.node WHERE w.hops < 2)
            SELECT start, count(*) FROM walk GROUP BY start
            """
        ).count()

    probe(
        "bounded_walks",
        lambda: walks_count(li1, 20),
        lambda: walks_count(li_both_N, 20 * n),
        li1.count(), li_both_N.count(),
    )

    # round 6: BPE encode — merges trained ONCE (fixed model state, like
    # the retrieval/decontamination probes), the map-only encode pass is
    # what must scale linearly
    from ups_crossref_etl_spark.operators.bpe import bpe_encode, bpe_train

    merges = bpe_train(docs1, "text", n_merges=10)
    probe(
        "bpe_encode",
        lambda: bpe_encode(docs1, "text", "doc_id", merges)
        .agg(F.sum("n_tokens")).collect(),
        lambda: bpe_encode(docsN, "text", "doc_id", merges)
        .agg(F.sum("n_tokens")).collect(),
        docs1.count(), docsN.count(),
    )

    # round 6: SemDeDup cluster-blocked edges. Replicas are PERTURBED
    # (circular shift of the embedding by salt positions) so each salt is
    # a distinct direction — plain replication would plant N-1 exact
    # duplicates per vector and the TRUE pair count itself would grow
    # quadratically, probing the data, not the algorithm. Centroids fixed
    # (fit once on the 1x sample — the realistic sampled-training shape).
    from ups_crossref_etl_spark.operators import semdedup

    dim = len(emb1.first()["embedding"])
    embN_rot = (
        emb1.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
        .select(
            (F.col("vec_id") * n + F.col("_salt")).alias("vec_id"),
            F.concat(
                F.slice(
                    "embedding", F.col("_salt") + 1, F.lit(dim) - F.col("_salt")
                ),
                F.slice("embedding", F.lit(1), F.col("_salt")),
            ).alias("embedding"),
        )
        .localCheckpoint()
    )
    centroids = semdedup.kmeans_fit(emb1, k=16, max_iter=3)
    probe(
        "semantic_edges",
        lambda: semdedup.semantic_edges(emb1, centroids, 0.35).count(),
        lambda: semdedup.semantic_edges(embN_rot, centroids, 0.35).count(),
        emb1.count(), embN_rot.count(),
    )

    # round 6: late-arrival audit — the distributed prefix-max must stay
    # linear (the single-partition global-window formulation it replaces
    # would flatline one executor)
    from ups_crossref_etl_spark.operators.timeseries import late_arrival_audit

    evN_ord = (
        ev1.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
        .withColumn("event_id", F.col("event_id") * n + F.col("_salt"))
        .drop("_salt")
        .localCheckpoint()
    )
    probe(
        "late_arrival_audit",
        lambda: late_arrival_audit(
            ev1, "event_id", "ts", "event_type", 600
        ).count(),
        lambda: late_arrival_audit(
            evN_ord, "event_id", "ts", "event_type", 600
        ).count(),
        ev1.count(), evN_ord.count(),
    )

    # round 11: TF-IDF KNN on the OPERATIONAL absolute-df-cap path (the
    # gated q_docs_tfidf_knn parameters). The old RELATIVE 6%-of-N cap
    # measured slope 1.5 at 10x — kept posting lists lengthen with N, so
    # pair fanout grows ~cap_frac*N per token; the absolute cap bounds
    # fanout at max_df * token mass, linear at any N.
    from ups_crossref_etl_spark.operators.retrieval import tfidf_knn_graph

    probe(
        "tfidf_knn",
        lambda: tfidf_knn_graph(
            docs1, "text", "doc_id", k=5, max_df=15, ngram=3
        ).count(),
        lambda: tfidf_knn_graph(
            docsN, "text", "doc_id", k=5, max_df=15, ngram=3
        ).count(),
        docs1.count(), docsN.count(),
    )
    # ... and the pre-r11 relative-cap path kept as a named probe so the
    # superlinear shape stays measured, not folklore (it is NOT any
    # gated query's path anymore)
    probe(
        "tfidf_knn_relative_cap",
        lambda: tfidf_knn_graph(
            docs1, "text", "doc_id", k=5, max_df=None, max_df_frac=0.06,
            ngram=3,
        ).count(),
        lambda: tfidf_knn_graph(
            docsN, "text", "doc_id", k=5, max_df=None, max_df_frac=0.06,
            ngram=3,
        ).count(),
        docs1.count(), docsN.count(),
    )

    # round 6: Bloom probe — the SET stays fixed while the corpus grows
    # (eval suites don't scale with training data); the probe pass is
    # map-only + broadcast join, the linearity that matters
    from ups_crossref_etl_spark.operators.membership import (
        bloom_build,
        bloom_probe,
    )

    ev_set = (
        docs1.filter(F.col("doc_id") % 17 == 0)
        .select(F.lower(F.col("text")).alias("v"))
        .localCheckpoint()
    )
    bloom = bloom_build(ev_set, "v").localCheckpoint()

    def bloom_count(d):
        return (
            bloom_probe(
                d.select("doc_id", F.lower(F.col("text")).alias("v")),
                "v",
                "doc_id",
                bloom,
            )
            .filter(F.col("might_contain"))
            .count()
        )

    probe(
        "bloom_probe",
        lambda: bloom_count(docs1),
        lambda: bloom_count(docsN),
        docs1.count(), docsN.count(),
    )

    # round 6: CMS build+estimate — sketch size is FIXED (depth x width)
    # regardless of corpus size; build is one combinable groupBy
    from ups_crossref_etl_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        hll_rollup,
        hll_sketch_table,
    )

    def cms_count(ev):
        cms = cms_build(ev, "user_id", width=1024, depth=3)
        pr = ev.filter(F.col("user_id") < 40).select("user_id").distinct()
        return cms_estimate(pr, "user_id", cms, width=1024, depth=3).count()

    probe(
        "cms_build_estimate",
        lambda: cms_count(ev1),
        lambda: cms_count(evN),
        ev1.count(), evN.count(),
    )

    # round 6: HLL daily sketch + rollup — per-group KB binaries; the
    # rollup shuffle moves groups x days rows, never events
    def hll_count(ev):
        daily = hll_sketch_table(
            ev.withColumn("day", F.to_date("ts")),
            "user_id",
            ["event_type", "day"],
        )
        return hll_rollup(daily, ["event_type"]).count()

    probe(
        "hll_sketch_rollup",
        lambda: hll_count(ev1),
        lambda: hll_count(evN),
        ev1.count(), evN.count(),
    )

    # round 6: hybrid skew join — replication multiplies the hot key's
    # row count (same key, Nx rows: the skew WORSENS with scale, the
    # adversarial case the hot/cold split exists for)
    from ups_crossref_etl_spark.operators.skew import hybrid_skew_join

    ord1 = read_table(spark, SF_DIR, "orders")
    cust1 = read_table(spark, SF_DIR, "customer")

    def skew_fact(o, copies):
        f = o.select(
            F.when(F.col("o_orderkey") % 3 == 0, F.lit(1))
            .otherwise(F.col("o_custkey"))
            .alias("c_custkey"),
            "o_totalprice",
        )
        if copies > 1:
            f = f.withColumn(
                "_salt", F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
            ).drop("_salt")
        return f

    probe(
        "hybrid_skew_join",
        lambda: hybrid_skew_join(
            skew_fact(ord1, 1), cust1, "c_custkey", min_hot_count=400
        ).groupBy("c_mktsegment").count().count(),
        lambda: hybrid_skew_join(
            skew_fact(ord1, n), cust1, "c_custkey", min_hot_count=400
        ).groupBy("c_mktsegment").count().count(),
        ord1.count(), ord1.count() * n,
    )

    # round 6 third wave: versioning diff, stats, tokenizer inference,
    # community detection
    from ups_crossref_etl_spark.operators.diff import snapshot_diff
    from ups_crossref_etl_spark.operators.graph import label_propagation
    from ups_crossref_etl_spark.operators.stats import corr_matrix, mad_outliers
    from ups_crossref_etl_spark.operators.unigram import (
        unigram_segment_words,
        unigram_vocab,
        word_counts,
    )

    def perturb(d):
        return d.filter(F.col("doc_id") % 17 != 3).withColumn(
            "lang",
            F.when(F.col("doc_id") % 13 == 0, F.lit("xx")).otherwise(F.col("lang")),
        )

    probe(
        "snapshot_diff",
        lambda: snapshot_diff(docs1, perturb(docs1), "doc_id").count(),
        lambda: snapshot_diff(docsN, perturb(docsN), "doc_id").count(),
        docs1.count(), docsN.count(),
    )

    def seg_count(d):
        wc = word_counts(d).localCheckpoint()
        return unigram_segment_words(wc, unigram_vocab(wc, min_count=800)).count()

    probe(
        "unigram_segment",
        lambda: seg_count(docs1),
        lambda: seg_count(docsN),
        docs1.count(), docsN.count(),
    )
    _CM = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    probe(
        "corr_matrix",
        lambda: corr_matrix(li1, _CM).count(),
        lambda: corr_matrix(liN, _CM).count(),
        li1.count(), liN.count(),
    )
    ev1 = read_table(spark, SF_DIR, "events").filter(F.col("value").isNotNull())
    evN = replicate(ev1, "event_id", n).localCheckpoint()
    probe(
        "mad_outliers",
        lambda: mad_outliers(ev1, "event_type", "value").count(),
        lambda: mad_outliers(evN, "event_type", "value").count(),
        ev1.count(), evN.count(),
    )

    def lpa_edges(li):
        pe = li.select("l_orderkey", "l_partkey").distinct()
        return (
            pe.alias("a").join(pe.alias("b"), "l_orderkey")
            .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
            .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        )

    # replication multiplies co-order edges superlinearly within orders —
    # keep the graph comparable by re-keying orders (replicate already did)
    probe(
        "label_propagation_3r",
        lambda: label_propagation(lpa_edges(li1), rounds=3).count(),
        lambda: label_propagation(lpa_edges(liN), rounds=3).count(),
        li1.count(), liN.count(),
    )

    # round 7: the round-6 heavyweights (VERDICT r6 item 4).
    # containment join: replicas get per-salt token suffixes so the
    # shingle-space replicates into N disjoint dialects (plain text
    # replication would plant N mutual-containment copies per doc and the
    # TRUE pair count itself would grow quadratically — probing the data,
    # not the candidate generation)
    from ups_crossref_etl_spark.operators.setsim import containment_join

    docsN_dialect = (
        docs1.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
        .select(
            (F.col("doc_id") * n + F.col("_salt")).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.lower("text"), r"[^a-z0-9]+"),
                    lambda t: F.concat(t, F.lit("x"), F.col("_salt").cast("string")),
                ),
            ).alias("text"),
        )
        .localCheckpoint()
    )
    probe(
        "containment_join",
        lambda: containment_join(docs1, "doc_id", "text", threshold=0.8).count(),
        lambda: containment_join(
            docsN_dialect, "doc_id", "text", threshold=0.8
        ).count(),
        docs1.count(), docsN_dialect.count(),
    )

    # dsir_select: the target slice is a fixed FRACTION (mod-50 of the
    # re-keyed id), the hashed-gram model stays 256 buckets regardless of
    # corpus size, selection is a TakeOrdered top-n — the whole path must
    # be one linear corpus scan + broadcast scoring
    from ups_crossref_etl_spark.operators.selection import (
        dsir_select,
        max_coverage_select,
    )

    probe(
        "dsir_select",
        lambda: dsir_select(
            docs1, "text", "doc_id", F.col("doc_id") % 50 == 0, n=100
        ).count(),
        lambda: dsir_select(
            docsN, "text", "doc_id", F.col("doc_id") % 50 == 0, n=100
        ).count(),
        docs1.count(), docsN.count(),
    )

    # kcore: same disjoint-replicated co-order graph as label_propagation —
    # each peel round is a degree agg + 2 semi-joins, rounds don't grow
    # with N (the peel depth is a property of each component, and the
    # components replicate unchanged)
    from ups_crossref_etl_spark.operators.graph import kcore

    probe(
        "kcore",
        lambda: kcore(lpa_edges(li1), k=3).count(),
        lambda: kcore(lpa_edges(liN), k=3).count(),
        li1.count(), liN.count(),
    )

    # max_coverage_select: k fixed at 5 — cost is k linear corpus passes
    # by design (greedy is sequential in k); what must not happen is any
    # round growing superlinearly in corpus size
    probe(
        "max_coverage_select",
        lambda: max_coverage_select(docs1, "doc_id", "text", k=5).count(),
        lambda: max_coverage_select(docsN, "doc_id", "text", k=5).count(),
        docs1.count(), docsN.count(),
    )

    # round-7 heavies ----------------------------------------------------

    # seq3: two chained range windows over one per-user sort — the cost
    # is the sort; replication multiplies users' rows, not window width
    from ups_crossref_etl_spark.operators.seqmine import sequential_support

    ev1 = read_table(spark, SF_DIR, "events")
    evN = replicate(ev1, "event_id", n).withColumn(
        "user_id", F.col("user_id") + (F.col("event_id") % n) * 1_000_000
    ).localCheckpoint()
    types = ["click", "error", "purchase", "signup", "view"]
    probe(
        "seq3_support",
        lambda: sequential_support(
            ev1, "user_id", "event_type", "ts", types, 21600, k=3
        ).count(),
        lambda: sequential_support(
            evN, "user_id", "event_type", "ts", types, 21600, k=3
        ).count(),
        ev1.count(), evN.count(),
    )

    # winnowing overlap: fingerprint density ~1/w; replicated docs share
    # fingerprints, so the df-cap is what keeps the join fanout bounded —
    # exactly the property worth measuring under replication
    from ups_crossref_etl_spark.operators.winnow import winnow_overlap_pairs

    probe(
        "winnow_overlap",
        lambda: winnow_overlap_pairs(
            docs1, "text", "doc_id", min_shared=3, max_df=50
        ).count(),
        lambda: winnow_overlap_pairs(
            docsN, "text", "doc_id", min_shared=3, max_df=50
        ).count(),
        docs1.count(), docsN.count(),
    )

    # wordpiece: segmentation cost is DISTINCT-word-bound (unchanged
    # under replication); the corpus-sized stages are the word count and
    # the broadcast join-back
    from ups_crossref_etl_spark.operators.unigram import word_counts
    from ups_crossref_etl_spark.operators.wordpiece import (
        wordpiece_segment_words,
        wordpiece_vocab,
    )

    def wp_count(d):
        wc = word_counts(d).localCheckpoint()
        v = wordpiece_vocab(wc, max_piece_len=6, min_count=800)
        return wordpiece_segment_words(wc, v, max_piece_len=6).count()

    probe(
        "wordpiece_segment",
        lambda: wp_count(docs1),
        lambda: wp_count(docsN),
        docs1.count(), docsN.count(),
    )

    # Poisson bootstrap: explode(1..B) collapses map-side; shuffle is
    # B x partitions partials regardless of row count
    from ups_crossref_etl_spark.operators.bootstrap import (
        poisson_bootstrap_mean_ci,
    )

    probe(
        "poisson_bootstrap",
        lambda: poisson_bootstrap_mean_ci(
            ev1, "value", "event_id", n_replicates=51
        ).count(),
        lambda: poisson_bootstrap_mean_ci(
            evN, "value", "event_id", n_replicates=51
        ).count(),
        ev1.count(), evN.count(),
    )

    # round-7 wave 3/4 heavies -------------------------------------------

    # kendall (capped): the stride cap bounds per-key pairs at ~cap^2/2,
    # so replicated KEYS (more users, same history depth) must scale
    # linearly — the exact property the cap exists to guarantee
    from ups_crossref_etl_spark.operators.stats import kendall_tau

    evK = replicate(ev1, "event_id", n).withColumn(
        "user_id", F.col("user_id") + (F.col("event_id") % n) * 1_000_000
    ).localCheckpoint()
    probe(
        "kendall_tau_capped",
        lambda: kendall_tau(
            ev1.filter(F.col("value").isNotNull()),
            "user_id", "ts", "value", max_points_per_key=40,
        ).count(),
        lambda: kendall_tau(
            evK.filter(F.col("value").isNotNull()),
            "user_id", "ts", "value", max_points_per_key=40,
        ).count(),
        ev1.count(), evK.count(),
    )

    # novelty: the gram scan is map-sided; the hash join fans out only on
    # shared grams, and dialect replication (disjoint token suffixes)
    # keeps the ref-set hit rate constant — measuring the join, not a
    # quadratic blowup of planted duplicates
    from ups_crossref_etl_spark.operators.text_analysis import ngram_novelty

    probe(
        "ngram_novelty",
        lambda: ngram_novelty(
            docs1.withColumn("is_ref", F.col("doc_id") % 5 == 0),
            "text", "doc_id", "is_ref", k=3,
        ).count(),
        lambda: ngram_novelty(
            docsN_dialect.withColumn("is_ref", F.col("doc_id") % 5 == 0),
            "text", "doc_id", "is_ref", k=3,
        ).count(),
        docs1.count(), docsN_dialect.count(),
    )

    # permutation test: rows x B explode into ONE B-keyed map-side-
    # combinable aggregate — the shuffle carries <= B*partitions rows
    # regardless of input size
    from ups_crossref_etl_spark.operators.experiment import permutation_test

    probe(
        "permutation_test",
        lambda: permutation_test(
            ev1, "event_id", "event_type", "value", "click", "view", 100
        ).count(),
        lambda: permutation_test(
            evN, "event_id", "event_type", "value", "click", "view", 100
        ).count(),
        ev1.count(), evN.count(),
    )

    # round-7 wave 7-10 heavies ------------------------------------------

    # sorted-neighborhood: candidate budget is n*window BY CONSTRUCTION;
    # the cost is the global sort (range partition at scale) — replicated
    # parts get per-salt name suffixes so the sort key space grows too
    from ups_crossref_etl_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    part1 = read_table(spark, SF_DIR, "part")
    partN = (
        part1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            (F.col("p_partkey") * n + F.col("_salt")).alias("p_partkey"),
            F.concat_ws(
                " ", F.col("p_name"), F.col("_salt").cast("string")
            ).alias("p_name"),
        )
        .localCheckpoint()
    )
    probe(
        "sorted_neighborhood",
        lambda: sorted_neighborhood_pairs(
            part1, "p_name", "p_partkey", window=3
        ).count(),
        lambda: sorted_neighborhood_pairs(
            partN, "p_name", "p_partkey", window=3
        ).count(),
        part1.count(), partN.count(),
    )

    # interleaved epoch order: per-domain rank + one global total-order
    # window — the range-partitionable sort shape every epoch shuffle pays
    from ups_crossref_etl_spark.operators.corpus import interleaved_order

    probe(
        "interleaved_order",
        lambda: interleaved_order(docs1, "doc_id", "source").count(),
        lambda: interleaved_order(docsN, "doc_id", "source").count(),
        docs1.count(), docsN.count(),
    )

    # HITS: per half-step one node-keyed aggregate + broadcast normalize;
    # co-order edges replicate via re-keyed orders
    from ups_crossref_etl_spark.operators.pagerank import hits as hits_op

    def coorder(li):
        pe = li.select("l_orderkey", "l_suppkey").distinct()
        return (
            pe.alias("a").join(pe.alias("b"), "l_orderkey")
            .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
            .select(
                F.col("a.l_suppkey").alias("src"),
                F.col("b.l_suppkey").alias("dst"),
            )
        )

    probe(
        "hits_2iter",
        lambda: hits_op(coorder(li1), n_iter=2).count(),
        lambda: hits_op(coorder(liN), n_iter=2).count(),
        li1.count(), liN.count(),
    )

    # round 7 wave 13+: Adamic-Adar link prediction — wedge join work is
    # sum deg(center)^2. Edges replicate as N DISJOINT graph copies
    # (both endpoints re-keyed per salt, the pagerank pattern): node
    # count grows N x with per-node degree constant — the corpus-growth
    # shape. Re-keying only one side would DENSIFY the fixed part set
    # instead (degree grows N x, wedge work N^2 x), a different probe.
    from ups_crossref_etl_spark.operators.graph import adamic_adar

    def graph_copies(edges, n):
        return (
            edges.withColumn(
                "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
            )
            .select(
                (F.col("src") * n + F.col("_salt")).alias("src"),
                (F.col("dst") * n + F.col("_salt")).alias("dst"),
            )
            .localCheckpoint()
        )

    pe_aa = li1.select("l_orderkey", "l_partkey").distinct()
    aa_e1 = (
        pe_aa.alias("a").join(pe_aa.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .localCheckpoint()
    )
    aa_eN = graph_copies(aa_e1, n)
    probe(
        "adamic_adar",
        lambda: adamic_adar(aa_e1, top_n=50).count(),
        lambda: adamic_adar(aa_eN, top_n=50).count(),
        aa_e1.count(), aa_eN.count(),
    )

    # item-item cosine: user-keyed pair join, work = sum per-user
    # items^2; both user and item re-key per salt -> N disjoint copies
    # (more users AND more items, per-user basket size constant)
    from ups_crossref_etl_spark.operators.recsys import item_cosine_similarity

    ic_1 = li1.select(
        F.col("l_orderkey").alias("u"), F.col("l_partkey").alias("i")
    ).localCheckpoint()
    ic_N = (
        ic_1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            (F.col("u") * n + F.col("_salt")).alias("u"),
            (F.col("i") * n + F.col("_salt")).alias("i"),
        )
        .localCheckpoint()
    )
    probe(
        "item_cosine",
        lambda: item_cosine_similarity(
            ic_1, "u", "i", top_n=50, min_cooccurrence=2
        ).count(),
        lambda: item_cosine_similarity(
            ic_N, "u", "i", top_n=50, min_cooccurrence=2
        ).count(),
        ic_1.count(), ic_N.count(),
    )

    # round 8: the wedge family (VERDICT r7 item 6) — capped Adamic-Adar
    # (the benched operational path), degree-oriented clustering
    # coefficient, and k-truss, all on the same N-disjoint-copy co-order
    # graph: node count grows N x at constant per-node degree, so wedge
    # work (sum out-deg^2) must grow ~linearly
    from ups_crossref_etl_spark.operators.graph import (
        clustering_coefficient,
        ktruss,
        neighbor_jaccard,
    )

    probe(
        "adamic_adar_capped",
        lambda: adamic_adar(aa_e1, top_n=50, max_degree=90).count(),
        lambda: adamic_adar(aa_eN, top_n=50, max_degree=90).count(),
        aa_e1.count(), aa_eN.count(),
    )
    probe(
        "clustering_coefficient",
        lambda: clustering_coefficient(aa_e1).count(),
        lambda: clustering_coefficient(aa_eN).count(),
        aa_e1.count(), aa_eN.count(),
    )
    probe(
        "ktruss",
        lambda: ktruss(aa_e1, k=4).count(),
        lambda: ktruss(aa_eN, k=4).count(),
        aa_e1.count(), aa_eN.count(),
    )

    # round 12 (r11 verdict #1): ktruss at a FULL 10x decade on a
    # box-fitting shape. The full sf0.1 co-order graph at 10x exceeds
    # single-box shuffle-file churn (SCALE.md), so the decade runs on
    # the co-order graph of a 1-in-10 ORDER sample: the 10x endpoint
    # (sampled graph x 10 disjoint copies) lands at ~the same edge
    # count as the full-graph 1x run already measured to completion —
    # the decade and the committed 3x full-graph probe cross-anchor.
    pe_kt = (
        li1.filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_partkey").distinct()
    )
    kt_e1 = (
        pe_kt.alias("a").join(pe_kt.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .localCheckpoint()
    )
    kt_eN = graph_copies(kt_e1, n)
    probe(
        "ktruss_decade",
        lambda: ktruss(kt_e1, k=4).count(),
        lambda: ktruss(kt_eN, k=4).count(),
        kt_e1.count(), kt_eN.count(),
    )
    probe(
        "neighbor_jaccard_capped",
        lambda: neighbor_jaccard(aa_e1, top_n=50, max_degree=90).count(),
        lambda: neighbor_jaccard(aa_eN, top_n=50, max_degree=90).count(),
        aa_e1.count(), aa_eN.count(),
    )

    # round 10: the CAPPED transitivity path (the scale fix for the
    # 1.65-slope uncapped clustering_coefficient above) — same
    # N-disjoint-copy co-order graph, wedge work bounded at
    # sum deg^2 over centers with d <= 90, must come back ~linear
    from ups_crossref_etl_spark.operators.graph import transitivity_summary

    probe(
        "transitivity_capped",
        lambda: transitivity_summary(aa_e1, max_center_degree=90).count(),
        lambda: transitivity_summary(aa_eN, max_center_degree=90).count(),
        aa_e1.count(), aa_eN.count(),
    )

    # round 10 (r9 verdict #7): the two iterative trainers — their
    # per-iteration "one join + one bounded-width aggregate" claims are
    # plan-verified but were never measured. Ratings replicate as N
    # disjoint copies (users AND items re-keyed, the item_cosine
    # pattern): entity count grows N x at constant per-entity degree.
    from ups_crossref_etl_spark.operators.factorization import als_factorize

    r_1 = (
        li1.groupBy(
            F.col("l_suppkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.avg("l_quantity").alias("r"))
        .localCheckpoint()
    )
    r_N = (
        r_1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            (F.col("u") * n + F.col("_salt")).alias("u"),
            (F.col("i") * n + F.col("_salt")).alias("i"),
            "r",
        )
        .localCheckpoint()
    )

    def als_run(rt):
        uf, itf = als_factorize(rt, "u", "i", "r", rank=4, reg=0.05,
                                iterations=2)
        return uf.count() + itf.count()

    probe(
        "als_bound",
        lambda: als_run(r_1),
        lambda: als_run(r_N),
        r_1.count(), r_N.count(),
    )

    # round 10 (ADVICE r9): percent_rank_unique's distinct-value cumsum
    # is now range-partitioned — probe it on a NEAR-UNIQUE key (event
    # epoch micros + event_id disambiguator) where the distinct table is
    # data-sized, the exact regime the old Window.orderBy degenerated on
    from ups_crossref_etl_spark.functions.dates import epoch_seconds
    from ups_crossref_etl_spark.operators.stats import percent_rank_unique

    ev1s = read_table(spark, SF_DIR, "events")
    pr_1 = ev1s.select(
        "event_id",
        (epoch_seconds(F.col("ts")) * 1000 + F.col("event_id") % 1000)
        .alias("near_unique"),
    ).localCheckpoint()
    pr_N = (
        pr_1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            (F.col("event_id") * n + F.col("_salt")).alias("event_id"),
            (F.col("near_unique") * n + F.col("_salt")).alias(
                "near_unique"
            ),
        )
        .localCheckpoint()
    )
    probe(
        "percent_rank_unique",
        lambda: percent_rank_unique(pr_1, "near_unique", "event_id")
        .agg(F.sum("score")).collect(),
        lambda: percent_rank_unique(pr_N, "near_unique", "event_id")
        .agg(F.sum("score")).collect(),
        pr_1.count(), pr_N.count(),
    )

    # round 11: mann_whitney / wilcoxon midranks on the ranged cumsum —
    # probe on a NEAR-UNIQUE continuous metric (epoch-scaled + per-row
    # jitter), the regime where the old unpartitioned distinct-value
    # window degenerated to a single partition
    from ups_crossref_etl_spark.operators.stats import (
        mann_whitney,
        wilcoxon_signed_rank,
    )

    mw_1 = ev1s.select(
        F.when(F.col("event_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("g"),
        (
            epoch_seconds(F.col("ts")).cast("double")
            + (F.col("event_id") % 9973).cast("double") / 9973.0
        ).alias("v"),
    ).localCheckpoint()
    mw_N = (
        mw_1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            "g",
            (F.col("v") * n + F.col("_salt")).alias("v"),
        )
        .localCheckpoint()
    )
    probe(
        "mann_whitney_midranks",
        lambda: mann_whitney(mw_1, "g", "v", "a", "b").collect(),
        lambda: mann_whitney(mw_N, "g", "v", "a", "b").collect(),
        mw_1.count(), mw_N.count(),
    )
    wx_1 = mw_1.select(
        F.col("v").alias("x"),
        (F.col("v") * 1.000001 + 0.123).alias("y"),
    ).localCheckpoint()
    wx_N = mw_N.select(
        F.col("v").alias("x"),
        (F.col("v") * 1.000001 + 0.123).alias("y"),
    ).localCheckpoint()
    probe(
        "wilcoxon_midranks",
        lambda: wilcoxon_signed_rank(wx_1, "x", "y").collect(),
        lambda: wilcoxon_signed_rank(wx_N, "x", "y").collect(),
        wx_1.count(), wx_N.count(),
    )

    # round 11: BH FDR adjust — near-unique p-values so BOTH ranged
    # passes (exclusive-count ranks, suffix-min sweep) run on a
    # data-sized distinct table; hypotheses grow Nx
    from ups_crossref_etl_spark.operators.stats import bh_adjust

    bh_1 = ev1s.select(
        F.col("event_id").cast("string").alias("k"),
        (
            (F.col("event_id") * F.lit(2654435761))
            .cast("bigint") % F.lit(1000000007)
        ).cast("double").alias("_h"),
    ).select(
        "k", (F.col("_h") / 1.000000007e9).alias("p")
    ).localCheckpoint()
    bh_N = (
        bh_1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            F.concat_ws("_", "k", F.col("_salt").cast("string")).alias(
                "k"
            ),
            ((F.col("p") + F.col("_salt")) / F.lit(float(n))).alias("p"),
        )
        .localCheckpoint()
    )
    probe(
        "bh_adjust",
        lambda: bh_adjust(bh_1, "k", "p").agg(
            F.sum("q_value")
        ).collect(),
        lambda: bh_adjust(bh_N, "k", "p").agg(
            F.sum("q_value")
        ).collect(),
        bh_1.count(), bh_N.count(),
    )

    # round 11: multi-covariate Cox (d=2) — subjects grow Nx with the
    # time/covariate distribution preserved (distinct event times stay
    # ~200, the per-pass aggregate is what must scale linearly)
    from ups_crossref_etl_spark.operators.survival import cox_ph_multi

    cx_1 = ev1s.select(
        ((F.col("event_id") % 200) + 1).cast("double").alias("t"),
        (F.col("event_id") % 3 == 0).cast("int").alias("d"),
        (F.coalesce(F.col("value"), F.lit(0.0)) / 100.0).alias("x0"),
        ((F.col("event_id") % 13).cast("double") / 13.0).alias("x1"),
    ).localCheckpoint()
    cx_N = (
        cx_1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .drop("_salt")
        .localCheckpoint()
    )
    probe(
        "cox_multi",
        lambda: cox_ph_multi(
            cx_1, "t", "d", ["x0", "x1"], iterations=2, tol=1e-4
        )["iterations_run"],
        lambda: cox_ph_multi(
            cx_N, "t", "d", ["x0", "x1"], iterations=2, tol=1e-4
        )["iterations_run"],
        cx_1.count(), cx_N.count(),
    )

    # round 11c/d: the two vocab-rank paths — zipf's ranked-vocabulary
    # OLS (ranged exclusive count, no global ORDER BY) and keyness G2
    # (token-keyed conditional counts + TakeOrdered). The dialect
    # replication (per-salt token suffixes) grows the VOCABULARY 10x —
    # the regime where the rank pass must stay distributed.
    from ups_crossref_etl_spark.operators.text_analysis import (
        keyness_g2,
        zipf_fit,
    )

    docsN_dial = (
        docs1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            (F.col("doc_id") * n + F.col("_salt")).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.lower("text"), r"[^a-z0-9]+"),
                    lambda t: F.concat(
                        t, F.lit("z"), F.col("_salt").cast("string")
                    ),
                ),
            ).alias("text"),
        )
        .localCheckpoint()
    )
    probe(
        "zipf_fit",
        lambda: zipf_fit(docs1, "text", "doc_id", min_count=2).collect(),
        lambda: zipf_fit(
            docsN_dial, "text", "doc_id", min_count=2
        ).collect(),
        docs1.count(), docsN_dial.count(),
    )
    probe(
        "keyness_g2",
        lambda: keyness_g2(
            docs1, "text", "doc_id", F.col("doc_id") % 17 == 0,
            min_count=5, top_n=50,
        ).collect(),
        lambda: keyness_g2(
            docsN_dial, "text", "doc_id", F.col("doc_id") % 17 == 0,
            min_count=5, top_n=50,
        ).collect(),
        docs1.count(), docsN_dial.count(),
    )

    from ups_crossref_etl_spark.operators.classifier import logreg_irls
    from ups_crossref_etl_spark.operators.text_analysis import (
        quality_features,
    )

    def feats_of(d):
        qf = quality_features(F.col("text"))
        return d.filter(
            F.col("text").isNotNull() & F.col("n_chars").isNotNull()
        ).select(
            F.array(
                qf["n_tokens"].cast("double") / 100.0,
                F.coalesce(qf["mean_token_len"], F.lit(0.0)) / 10.0,
                F.coalesce(qf["punct_ratio"], F.lit(0.0)),
                F.coalesce(qf["digit_ratio"], F.lit(0.0)),
                F.coalesce(qf["upper_ratio"], F.lit(0.0)),
                F.coalesce(qf["stopword_ratio"], F.lit(0.0)),
            ).alias("features"),
            (F.col("n_chars") > 290).alias("label"),
        ).localCheckpoint()

    qf_1 = feats_of(docs1)
    qf_N = feats_of(docsN)
    probe(
        "quality_classifier",
        lambda: logreg_irls(qf_1, "features", "label", dim=6, reg=1e-3,
                            iterations=8)["iterations_run"],
        lambda: logreg_irls(qf_N, "features", "label", dim=6, reg=1e-3,
                            iterations=8)["iterations_run"],
        qf_1.count(), qf_N.count(),
    )

    # round 10 second wave: the two new ops with a nontrivial kernel.
    # misra_gries has a per-batch Python dict merge inside mapInPandas
    # (constant work per row IF the counter bound holds — measure it);
    # pacf rides the acf bounded-fanout self-join plus a per-key Arrow
    # recursion. The other new gates (JB/BF/Fisher/CMH/SRM/CH) are
    # single map-side-combinable aggregates — linear by construction.
    from ups_crossref_etl_spark.operators.sketches import (
        misra_gries_summary,
    )
    from ups_crossref_etl_spark.operators.timeseries import pacf_dl

    ev_mg1 = read_table(spark, SF_DIR, "events").localCheckpoint()
    ev_mgN = replicate(ev_mg1, "event_id", n).localCheckpoint()
    probe(
        "misra_gries",
        lambda: misra_gries_summary(ev_mg1, "user_id", 8).count(),
        lambda: misra_gries_summary(ev_mgN, "user_id", 8).count(),
        ev_mg1.count(), ev_mgN.count(),
    )
    # users re-keyed to N disjoint copies: per-user series length stays
    # constant, user count grows Nx — the partition-friendly growth mode
    ev_pc1 = (
        read_table(spark, SF_DIR, "events")
        .filter(F.col("value").isNotNull())
        .localCheckpoint()
    )
    ev_pcN = (
        ev_pc1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            (F.col("user_id") * n + F.col("_salt")).alias("user_id"),
            "ts", "value",
        )
        .localCheckpoint()
    )
    probe(
        "pacf",
        lambda: pacf_dl(ev_pc1, "user_id", "ts", "value", 3).count(),
        lambda: pacf_dl(ev_pcN, "user_id", "ts", "value", 3).count(),
        ev_pc1.count(), ev_pcN.count(),
    )

    # round 10 third wave: the two per-key-window ops (runs test and
    # Durbin-Watson) on the same users-grow-Nx replication — both are
    # key-partitioned windows + keyed aggregates, must come back ~linear
    from ups_crossref_etl_spark.operators.stats import runs_test
    from ups_crossref_etl_spark.operators.timeseries import durbin_watson

    probe(
        "runs_test",
        lambda: runs_test(ev_pc1, "user_id", ["ts"], "value").count(),
        lambda: runs_test(ev_pcN, "user_id", ["ts"], "value").count(),
        ev_pc1.count(), ev_pcN.count(),
    )
    probe(
        "durbin_watson",
        lambda: durbin_watson(ev_pc1, "user_id", "ts", "value").count(),
        lambda: durbin_watson(ev_pcN, "user_id", "ts", "value").count(),
        ev_pc1.count(), ev_pcN.count(),
    )

    # round 12: the new ranged-pass consumers on NEAR-UNIQUE keys (the
    # regime where an unpartitioned window would degenerate) plus the
    # Hurst bounded-explode shape. Values jitter per event id so the
    # distinct-value tables are data-sized; replication re-keys to N
    # disjoint copies.
    from ups_crossref_etl_spark.operators.stats import (
        brunner_munzel,
        quade_test,
    )
    from ups_crossref_etl_spark.operators.survival import (
        schoenfeld_residuals,
    )
    from ups_crossref_etl_spark.operators.timeseries import hurst_aggvar

    bm_1 = ev_pc1.select(
        F.when(F.col("event_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("g"),
        (
            F.col("value") + (F.col("event_id") % 9973).cast("double")
            / 9973.0
        ).alias("v"),
    ).localCheckpoint()
    bm_N = (
        bm_1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select("g", (F.col("v") * n + F.col("_salt")).alias("v"))
        .localCheckpoint()
    )
    probe(
        "brunner_munzel",
        lambda: brunner_munzel(bm_1, "g", "v", "a", "b").collect(),
        lambda: brunner_munzel(bm_N, "g", "v", "a", "b").collect(),
        bm_1.count(), bm_N.count(),
    )

    qd_1 = ev_pc1.select(
        F.col("user_id").cast("string").alias("bk"),
        F.when(F.col("event_id") % 3 == 0, F.lit("t1"))
        .when(F.col("event_id") % 3 == 1, F.lit("t2"))
        .otherwise(F.lit("t3"))
        .alias("t"),
        (
            F.col("value") + (F.col("event_id") % 9973).cast("double")
            / 9973.0
        ).alias("v"),
    ).localCheckpoint()
    qd_N = (
        qd_1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            F.concat_ws("_", "bk", F.col("_salt").cast("string"))
            .alias("bk"),
            "t",
            (F.col("v") * n + F.col("_salt")).alias("v"),
        )
        .localCheckpoint()
    )
    probe(
        "quade",
        lambda: quade_test(qd_1, "bk", "t", "v",
                           ["t1", "t2", "t3"]).collect(),
        lambda: quade_test(qd_N, "bk", "t", "v",
                           ["t1", "t2", "t3"]).collect(),
        qd_1.count(), qd_N.count(),
    )

    sf_1 = ev_pc1.select(
        (
            F.col("event_id").cast("double")
            + (F.col("event_id") % 97).cast("double") / 97.0
        ).alias("t"),
        (F.col("event_id") % 3 == 0).cast("int").alias("ev"),
        (F.col("value") / 100.0).alias("x"),
    ).localCheckpoint()
    sf_N = (
        sf_1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            (F.col("t") * n + F.col("_salt")).alias("t"), "ev", "x"
        )
        .localCheckpoint()
    )
    probe(
        "schoenfeld",
        lambda: schoenfeld_residuals(sf_1, "t", "ev", "x", 0.1)
        .count(),
        lambda: schoenfeld_residuals(sf_N, "t", "ev", "x", 0.1)
        .count(),
        sf_1.count(), sf_N.count(),
    )

    from ups_crossref_etl_spark.functions.dates import (
        epoch_seconds as _es,
    )

    hu_N = (
        ev_pc1.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            F.timestamp_seconds(
                _es(F.col("ts")) * n + F.col("_salt") * 60
            ).alias("ts"),
            "value",
        )
        .localCheckpoint()
    )
    probe(
        "hurst_aggvar",
        lambda: hurst_aggvar(ev_pc1, "ts", "value").collect(),
        lambda: hurst_aggvar(hu_N, "ts", "value").collect(),
        ev_pc1.count(), hu_N.count(),
    )

    # round 13 (r12 verdict #4): variable-length exact-substring dedup —
    # replication copies the dup-span structure too (each span's doc
    # count multiplies), the hard case for the seed join
    from ups_crossref_etl_spark.operators.spans import long_repeated_spans

    probe(
        "long_spans",
        lambda: long_repeated_spans(
            docs1, "text", "doc_id", min_len=20, min_docs=2
        ).count(),
        lambda: long_repeated_spans(
            docsN, "text", "doc_id", min_len=20, min_docs=2
        ).count(),
        docs1.count(), docsN.count(),
    )

    # round 13 (r12 verdict #3): the ktruss DENSITY axis the disjoint-
    # copy decade cannot see — fixed node count (l_partkey % 2000),
    # 1x/2x/3x order-sample density, recording peel-round depth per
    # step: does peel DEPTH grow with density, or only per-round work?
    if not only or "ktruss_density" in only:
        dens = []
        for dstep in (1, 2, 3):
            lid = (
                li1.filter(F.col("l_orderkey") % 30 < dstep)
                .select(
                    "l_orderkey",
                    (F.col("l_partkey") % 2000).alias("pk"),
                )
                .distinct()
            )
            e_d = (
                lid.alias("a").join(lid.alias("b"), "l_orderkey")
                .filter(F.col("a.pk") < F.col("b.pk"))
                .select(
                    F.col("a.pk").alias("src"),
                    F.col("b.pk").alias("dst"),
                )
                .localCheckpoint()
            )
            st: dict = {}
            t0 = time.time()
            ktruss(e_d, k=4, stats=st).count()
            dens.append({
                "density_step": dstep,
                "edges": st["edges_in"],
                "sec": round(time.time() - t0, 2),
                "peel_rounds": st["peel_rounds"],
            })
        results["probes"]["ktruss_density"] = {
            "nodes_fixed_mod": 2000,
            "steps": dens,
        }

    sent_post = _sentinel(spark)
    for entry in results["probes"].values():
        entry["sentinel_pre"] = sent_pre
        entry["sentinel_post"] = sent_post

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(root, "SCALE_PROBE.json")
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)
        prior["probes"].update(results["probes"])
        prior["replication"] = n
        results = prior
    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    main()
