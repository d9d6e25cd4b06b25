#!/usr/bin/env python
"""Adversarial-skew race for the near-dup family + first/last-wins dedup
(r11 verdict #6): a corpus where one LSH band bucket is PATHOLOGICALLY hot
— a million-doc template-spam cluster whose shared shingles dominate every
band's minhash, so all of them land in the same bucket in every band —
plus planted genuine near-dup pairs elsewhere.  Proves, at >=1 M docs:

  * the `max_bucket` guard holds: the guarded run completes without
    executor OOM or a quadratic candidate blowup, and the dropped-bucket
    histogram (count, sizes, member rows) is RECORDED, not asserted away;
  * output parity vs the exact reference: the planted clone pairs must
    ALL be emitted with exact Jaccards matching a plain-Python
    recomputation from the same seeded construction (same tokenizer
    semantics as operators.dedup.word_shingles), and every OTHER emitted
    pair must be proven sound — spam-internal and exact-Jaccard >= the
    threshold.  (Spam pairs are true 0.902-Jaccard near-dups; the guard
    drops the mega-bucket they share, but 32-bit shingle-hash birthday
    collisions legitimately surface a few hundred of them through
    size-2 buckets at the million-doc scale — see the soundness check
    in main());
  * the blowup being guarded is real, not hypothetical: an UNGUARDED
    control at a small spam size measures the candidate count growing
    with the square of the cluster (k=512 -> ~2.6e6 candidates from 512
    docs; the 1 M cluster projects ~7e12 — the row count that would hit
    the band self-join without the guard);
  * first/last-wins dedup (reference A1/A2 semantics —
    generate_gtfs.py:115-123 first-wins, update-routes.js:37 JS-Map
    last-wins) at hostile KEY skew: one key owning half of 4 M rows,
    parity vs a DuckDB min_by/max_by oracle on the same data.

Usage: python scripts/stress_skew.py [n_spam] [n_background] [n_planted]
       (defaults 1_048_576 262_144 4_096)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# -- corpus construction (pure function of doc_id: executors generate by
#    id, the driver REgenerates any doc identically for the reference) ----
TEMPLATE = [f"s{j}" for j in range(60)]   # the spam template, 60 tokens
VOCAB = 10_000_000                         # background token space
BG_LEN = 124                               # background doc tokens
CLONE_POS = (17, 93)                       # positions edited in a clone
SHINGLE_N = 3
JACCARD_T = 0.7
MAX_BUCKET = 64
SEED = 20260816


def spam_text(i: int) -> str:
    """Template doc with ONE token made unique — at the SAME position for
    every doc, deliberately: all spam docs then share an IDENTICAL
    55-shingle template core, so ANY band collision between two spam docs
    implies the band hash is the template-determined value — i.e. every
    multi-doc bucket is THE mega-bucket, which the guard drops whole.
    (Varying the position instead splits the cluster into per-position
    classes whose smaller buckets survive the guard and emit a
    bucket-shape-dependent subset of true spam pairs — measured in an
    early version of this harness; exact output parity needs the
    all-or-nothing form.)"""
    toks = list(TEMPLATE)
    toks[7] = f"u{i}"
    return " ".join(toks)


def background_tokens(i: int) -> list[str]:
    rng = np.random.RandomState((SEED + i) % (2**31))
    return [f"w{v}" for v in rng.randint(0, VOCAB, BG_LEN)]


def clone_text(src: int, clone_id: int) -> str:
    toks = background_tokens(src)
    for p in CLONE_POS:
        toks[p] = f"c{clone_id}"
    return " ".join(toks)


def shingle_set(text: str) -> set:
    """word_shingles semantics (operators/dedup.py): lowercase,
    [^a-z0-9]+ split, distinct n-word shingles."""
    w = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    if len(w) < SHINGLE_N:
        return {" ".join(w)}
    return {" ".join(w[i:i + SHINGLE_N]) for i in range(len(w) - SHINGLE_N + 1)}


def exact_jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def build_corpus(spark, n_spam: int, n_bg: int, n_planted: int):
    """doc_id layout: [0, n_spam) spam; [n_spam, n_spam+n_bg) background;
    [n_spam+n_bg, +n_planted) clones of the first n_planted background
    docs.  Generated ON EXECUTORS from doc_id alone (mapInPandas) — the
    driver never holds the corpus."""
    n_total = n_spam + n_bg + n_planted
    bg_base, clone_base = n_spam, n_spam + n_bg

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            texts = []
            for i in ids:
                i = int(i)
                if i < n_spam:
                    texts.append(spam_text(i))
                elif i < clone_base:
                    texts.append(" ".join(background_tokens(i - bg_base)))
                else:
                    src = i - clone_base
                    texts.append(clone_text(src, i))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    return (
        spark.range(n_total)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(gen, "doc_id long, text string")
    )


def bucket_histogram(docs, spark) -> dict:
    """The banded bucket histogram the guard sees: how hot IS the hot
    bucket, and what does max_bucket drop (r11 verdict #6: the race must
    record a max-bucket-hit count)."""
    from pyspark.sql import functions as F

    from tegallega_spark.operators.dedup import make_band_hash_udf
    from tegallega_spark.session import parallelize_for_udf

    bh_udf = make_band_hash_udf(SHINGLE_N, 32, 16)
    banded = (
        parallelize_for_udf(docs)
        .select(F.col("doc_id").alias("__id"), bh_udf(F.col("text")).alias("__bh"))
        .select("__id", F.posexplode("__bh").alias("band_idx", "band_hash"))
    )
    hist = banded.groupBy("band_idx", "band_hash").count()
    over = hist.filter(F.col("count") > MAX_BUCKET)
    agg = over.agg(
        F.count("*").alias("buckets_dropped"),
        F.coalesce(F.sum("count"), F.lit(0)).alias("member_rows_dropped"),
        F.coalesce(F.max("count"), F.lit(0)).alias("hottest_bucket"),
    ).collect()[0]
    return {
        "buckets_dropped": int(agg["buckets_dropped"]),
        "member_rows_dropped": int(agg["member_rows_dropped"]),
        "hottest_bucket": int(agg["hottest_bucket"]),
        "max_bucket": MAX_BUCKET,
    }


def unguarded_control(spark, k_spam: int) -> dict:
    """Measure the quadratic candidate count on a SMALL spam cluster with
    the guard OFF — the blowup the big run would hit, made measurable."""
    from tegallega_spark.operators.dedup import (
        _pairs_from_band_hashes,
        make_band_hash_udf,
    )
    from tegallega_spark.session import parallelize_for_udf
    from pyspark.sql import functions as F

    docs = build_corpus(spark, k_spam, 0, 0)
    bh_udf = make_band_hash_udf(SHINGLE_N, 32, 16)
    bh = parallelize_for_udf(docs).select(
        F.col("doc_id").alias("__id"), bh_udf(F.col("text")).alias("__bh")
    )
    t0 = time.perf_counter()
    n_unguarded = _pairs_from_band_hashes(bh).count()
    t_un = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_guarded = _pairs_from_band_hashes(bh, max_bucket=MAX_BUCKET).count()
    t_g = time.perf_counter() - t0
    return {
        "spam_docs": k_spam,
        "unguarded_candidates": n_unguarded,
        "guarded_candidates": n_guarded,
        "unguarded_s": round(t_un, 2),
        "guarded_s": round(t_g, 2),
    }


def main() -> None:
    args = [int(a) for a in sys.argv[1:] if not a.startswith("--")]
    n_spam = args[0] if len(args) > 0 else 1_048_576
    n_bg = args[1] if len(args) > 1 else 262_144
    n_planted = args[2] if len(args) > 2 else 4_096
    clone_base = n_spam + n_bg

    from pyspark.sql import functions as F

    from tegallega_spark.operators.dedup import (
        dedup_keep_first,
        dedup_keep_last,
        minhash_near_duplicates_verified,
    )
    from tegallega_spark.session import get_spark, release_intermediates

    spark = get_spark("skew-stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    report: dict = {"n_spam": n_spam, "n_background": n_bg,
                    "n_planted": n_planted}

    # -- control: the quadratic blowup is real --------------------------
    for k in (128, 512):
        c = unguarded_control(spark, k)
        # every band's bucket holds ~the whole cluster: candidates ~= k^2/2
        assert c["unguarded_candidates"] > 0.9 * (k * (k - 1) / 2), c
        assert c["guarded_candidates"] == 0, c
        report.setdefault("unguarded_control", []).append(c)
        print(json.dumps(c), file=sys.stderr, flush=True)

    # -- the big guarded run --------------------------------------------
    docs = build_corpus(spark, n_spam, n_bg, n_planted).persist()
    n_docs = docs.count()
    assert n_docs == n_spam + n_bg + n_planted

    t0 = time.perf_counter()
    pairs = minhash_near_duplicates_verified(
        docs, "doc_id", "text", shingle_n=SHINGLE_N,
        jaccard_threshold=JACCARD_T, max_bucket=MAX_BUCKET,
    )
    got = sorted(
        (int(r["id_a"]), int(r["id_b"]), round(float(r["jaccard"]), 9))
        for r in pairs.collect()
    )
    spark_s = time.perf_counter() - t0
    release_intermediates(pairs)

    # -- exact reference: regenerate the planted pairs in plain Python --
    want = sorted(
        (src + n_spam, clone_base + src,
         round(exact_jaccard(" ".join(background_tokens(src)),
                             clone_text(src, clone_base + src)), 9))
        for src in range(n_planted)
    )
    got_pairs = {(a, b) for a, b, _ in got}
    want_pairs = {(a, b) for a, b, _ in want}
    missing = want_pairs - got_pairs
    extra = got_pairs - want_pairs
    assert not missing, f"{len(missing)} planted pairs missed, e.g. {sorted(missing)[:5]}"
    # Extras CAN legitimately surface, and only from inside the spam
    # cluster: shingle hashes live in [0, MINHASH_PRIME) — a 32-bit
    # space — so ~1M docs x 3 unique shingles produce ~1.1k birthday
    # collisions (3.1e6^2 / 2^33), and a collision can drop two spam
    # docs into a small (size-2) band bucket the guard keeps.  Those
    # pairs are TRUE near-dups (every spam pair has exact jaccard
    # 55/61 = 0.902 >= 0.7, and the verify pass recomputed it), so the
    # guarded contract they must satisfy is SOUNDNESS, not absence:
    # every extra is spam x spam and its Python-exact jaccard clears
    # the threshold.  A single extra touching a background/clone doc
    # would be a real false positive and fails the race.
    for a, b in sorted(extra):
        assert a < n_spam and b < n_spam, (
            f"false positive outside the spam cluster: {(a, b)}")
        j = exact_jaccard(spam_text(a), spam_text(b))
        assert j >= JACCARD_T, f"unsound extra pair {(a, b)} jaccard={j}"
    got_j = {(a, b): j for a, b, j in got}
    j_diff = [(p, got_j[p], w) for (pa, pb, w) in want
              for p in [(pa, pb)] if abs(got_j[p] - w) > 1e-9]
    assert not j_diff, f"jaccard mismatch, e.g. {j_diff[:3]}"

    # -- the recorded guard histogram ------------------------------------
    hist = bucket_histogram(docs, spark)
    # the spam cluster must actually have been the pathology we built:
    # one bucket per band holding ~90% of the cluster
    assert hist["hottest_bucket"] > 0.8 * n_spam, hist

    # -- remediated guarded run (r12 verdict #2) --------------------------
    # remediate_dropped resolves each dropped mega-bucket by a bounded
    # star pass (rep = bucket-min id, one pair per member) whose pairs go
    # through the SAME exact-Jaccard verify.  The claim to prove: the
    # spam cluster — which the plain guarded run leaves in the corpus
    # whole — becomes ONE connected component covering every spam doc, so
    # a first-wins/CC consumer collapses it to its single template class,
    # while planted-pair parity and the no-false-positives contract are
    # unchanged.  Checks run Spark-side: the star set can be several
    # times n_spam (reps differ per band) — too big to collect.
    from tegallega_spark.operators.cc import connected_components

    t0 = time.perf_counter()
    rem = minhash_near_duplicates_verified(
        docs, "doc_id", "text", shingle_n=SHINGLE_N,
        jaccard_threshold=JACCARD_T, max_bucket=MAX_BUCKET,
        remediate_dropped=True,
    ).persist()
    n_rem_pairs = rem.count()
    rem_s = time.perf_counter() - t0

    want_df = spark.createDataFrame(
        pd.DataFrame(sorted(want_pairs), columns=["id_a", "id_b"])
    )
    n_planted_found = rem.join(want_df, ["id_a", "id_b"], "left_semi").count()
    assert n_planted_found == n_planted, (
        f"remediated run lost planted pairs: {n_planted_found}/{n_planted}")
    # every non-planted pair must be spam-internal (false positives
    # touching a background/clone doc would fail the race exactly as in
    # the unremediated run)
    n_outside = (
        rem.join(want_df, ["id_a", "id_b"], "left_anti")
        .filter(~((F.col("id_a") < n_spam) & (F.col("id_b") < n_spam)))
        .count()
    )
    assert n_outside == 0, f"{n_outside} non-spam extra pairs"
    # verified path: every emitted jaccard clears the threshold
    n_below = rem.filter(F.col("jaccard") < JACCARD_T).count()
    assert n_below == 0
    # the collapse: spam-internal pairs form ONE component covering ALL
    # spam docs → keep-one-canonical leaves exactly one survivor
    spam_edges = (
        rem.filter((F.col("id_a") < n_spam) & (F.col("id_b") < n_spam))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    cc = connected_components(spam_edges, max_iter=40).persist()
    n_covered = cc.count()
    n_clusters = cc.select("cluster_id").distinct().count()
    cc.unpersist()
    release_intermediates(rem)
    rem.unpersist()
    assert n_covered == n_spam, (
        f"remediation left {n_spam - n_covered} spam docs uncovered")
    assert n_clusters == 1, f"spam split into {n_clusters} clusters"
    report["remediated"] = {
        "run_s": round(rem_s, 2),
        "pairs_emitted": n_rem_pairs,
        "spam_docs_covered": f"{n_covered}/{n_spam}",
        "spam_components": n_clusters,
        "survivors_after_keep_one": 1,
        "planted_recall": f"{n_planted_found}/{n_planted}",
        "false_positives_outside_spam": 0,
    }
    print(json.dumps({"remediated": report["remediated"]}),
          file=sys.stderr, flush=True)

    docs.unpersist()

    report.update({
        "guarded_run_s": round(spark_s, 2),
        "pairs_emitted": len(got),
        "planted_recall": f"{len(want_pairs & got_pairs)}/{len(want_pairs)}",
        "spam_true_pairs_surfaced_via_32bit_hash_collisions": len(extra),
        "parity": "planted pairs identical (ids + exact jaccard); "
                  "every extra verified spam-internal and exact-sound",
        "bucket_guard": hist,
        "projected_unguarded_candidates": int(
            16 * (0.9 * n_spam) ** 2 / 2
        ),
    })

    # -- A1/A2 first/last-wins dedup at hostile KEY skew -----------------
    # (generate_gtfs.py:115-123 / update-routes.js:37 semantics): one key
    # owns HALF of 4 M rows; "first" defined by a permuted order column so
    # arrival order and partition layout disagree.  Parity vs a DuckDB
    # min_by/max_by oracle over the same parquet bytes.
    import duckdb
    import tempfile

    n_rows, n_keys = 4_000_000, 100_000
    rows = spark.range(n_rows).select(
        F.when(F.col("id") < n_rows // 2, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % n_keys).cast("string")))
        .alias("key"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("val"),
        ((F.col("id") * F.lit(2654435761)) % F.lit(2**32)).alias("ord"),
    )
    tmp = tempfile.mkdtemp(prefix="tegallega_skew_")
    pq = os.path.join(tmp, "rows.parquet")
    rows.write.mode("overwrite").parquet(pq)
    src = spark.read.parquet(pq)

    t0 = time.perf_counter()
    first = {(r["key"]): r["val"]
             for r in dedup_keep_first(src, ["key"], "ord").collect()}
    t_first = time.perf_counter() - t0
    t0 = time.perf_counter()
    last = {(r["key"]): r["val"]
            for r in dedup_keep_last(src, ["key"], "ord").collect()}
    t_last = time.perf_counter() - t0

    con = duckdb.connect()
    ref_first = dict(con.execute(
        f"SELECT key, min_by(val, ord) FROM read_parquet('{pq}/*.parquet') GROUP BY key"
    ).fetchall())
    ref_last = dict(con.execute(
        f"SELECT key, max_by(val, ord) FROM read_parquet('{pq}/*.parquet') GROUP BY key"
    ).fetchall())
    assert first == ref_first, "first-wins diverged under key skew"
    assert last == ref_last, "last-wins diverged under key skew"
    import shutil as _shutil

    _shutil.rmtree(tmp, ignore_errors=True)
    report["keyed_dedup_skew"] = {
        "rows": n_rows, "hot_key_rows": n_rows // 2, "keys": len(first),
        "first_wins_s": round(t_first, 2), "last_wins_s": round(t_last, 2),
        "parity": "identical to DuckDB min_by/max_by",
    }
    print(json.dumps(report, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
