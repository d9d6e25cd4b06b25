"""Unit tests for the training-data pipeline operators added in round 2:
connected-components dedup clustering, decontamination, PII redaction,
deterministic stratified sampling, and sequence packing.

The oracle-parity suite checks these end-to-end against DuckDB; here we pin
the operator-level invariants on constructed inputs where the expected
answer is known by hand.
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from tegallega_spark.operators.cc import connected_components, dedup_cluster_assignments
from tegallega_spark.operators.dedup import contamination_report, exact_shingle_jaccard_pairs
from tegallega_spark.operators.packing import pack_sequences
from tegallega_spark.operators.sampling import hash_sample, stratified_hash_sample
from tegallega_spark.operators.textual import pii_counts, redact_pii


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------

def test_cc_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3), pair 10-11, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], ["src", "dst"]
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20), (21, 20)}


def test_cc_converges_on_cycle(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    got = {(r["node"], r["cluster_id"]) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_dedup_cluster_sizes(spark):
    pairs = spark.createDataFrame([(5, 9), (9, 7), (2, 3)], ["id_a", "id_b"])
    rows = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in dedup_cluster_assignments(pairs).collect()}
    assert rows == {5: (5, 3), 9: (5, 3), 7: (5, 3), 2: (2, 2), 3: (2, 2)}


def test_exact_shingle_jaccard_transitive_chain(spark):
    # A~B and B~C above threshold, A~C below: CC must still merge all three
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "alpha beta gamma delta epsilon zeta iota kappa"
    c = "gamma delta epsilon zeta iota kappa lam mu"
    docs = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    pairs = exact_shingle_jaccard_pairs(docs, shingle_n=4, threshold=0.3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (2, 3) in got and (1, 3) not in got
    clusters = {r["doc_id"]: r["cluster_id"]
                for r in dedup_cluster_assignments(pairs).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1}


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def test_contamination_report_flags_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "start pad quick brown fox jumps end pad"),   # shares shingles
            (2, "completely different words here entirely"),  # clean
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_shared_shingles"]
           for r in contamination_report(corpus, bench, shingle_n=4).collect()}
    assert 1 in got and got[1] >= 1
    assert 2 not in got


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

def test_redact_pii_all_types(spark):
    df = spark.createDataFrame(
        [("mail a@b.co and ssn 123-45-6789 then call 555-1234 done",)], ["t"]
    )
    n_e, n_s, n_p = pii_counts(F.col("t"))
    row = df.select(
        redact_pii(F.col("t")).alias("r"),
        n_e.alias("e"), n_s.alias("s"), n_p.alias("p"),
    ).first()
    assert row["r"] == "mail [EMAIL] and ssn [SSN] then call [PHONE] done"
    assert (row["e"], row["s"], row["p"]) == (1, 1, 1)


def test_redact_pii_ssn_not_eaten_by_phone(spark):
    # SSN must be replaced whole, not have its tail matched as a phone
    df = spark.createDataFrame([("id 987-65-4321 x",)], ["t"])
    assert df.select(redact_pii(F.col("t")).alias("r")).first()["r"] == "id [SSN] x"


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

def test_hash_sample_deterministic_and_fractional(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = sorted(r["k"] for r in hash_sample(df, "k", "40").collect())
    s2 = sorted(r["k"] for r in hash_sample(df.repartition(7), "k", "40").collect())
    assert s1 == s2  # partition-layout independent
    assert 0.18 < len(s1) / 2000 < 0.32  # ~25% +- slack


def test_stratified_thresholds_differ(spark):
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).cast("string").alias("s")
    )
    out = stratified_hash_sample(df, "k", "s", {"true": "80"}, "10")
    rates = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    # 'true' stratum sampled at 50%, others at ~6%
    assert rates["true"] > 5 * rates.get("false", 1)


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

def test_pack_sequences_layout(spark):
    rows = [(i, 0, 300) for i in range(6)]  # six 300-token docs, one shard
    df = spark.createDataFrame(rows, ["doc_id", "shard", "n_tokens"])
    out = {r["doc_id"]: (r["pack_id"], r["pack_offset"], r["spills_over"])
           for r in pack_sequences(df, "n_tokens", "doc_id", "shard", budget=512).collect()}
    # starts: 0,300,600,900,1200,1500 → packs 0,0,1,1,2,2; offsets mod 512
    assert out[0] == (0, 0, False)
    assert out[1] == (0, 300, True)     # 300+300 > 512 → straddles
    assert out[2] == (1, 600 - 512, False)
    assert out[5] == (2, 1500 - 2 * 512, True)


def test_pack_sequences_shards_independent(spark):
    rows = [(1, "a", 100), (2, "b", 100), (3, "a", 500), (4, "b", 500)]
    df = spark.createDataFrame(rows, ["doc_id", "shard", "n_tokens"])
    out = {r["doc_id"]: r["pack_id"]
           for r in pack_sequences(df, "n_tokens", "doc_id", "shard", budget=512).collect()}
    # each shard restarts at pack 0
    assert out[1] == 0 and out[2] == 0 and out[3] == 0 and out[4] == 0


# ---------------------------------------------------------------------------
# repetition signals
# ---------------------------------------------------------------------------

def test_repetition_stats_flags_boilerplate(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham spam ham"),   # one bigram repeated
            (2, "alpha beta gamma delta epsilon zeta"),   # all bigrams unique
        ],
        ["doc_id", "text"],
    )
    from tegallega_spark.operators.textual import repetition_stats
    got = {r["doc_id"]: (r["dup_ngram_frac"], r["top_ngram_frac"])
           for r in repetition_stats(docs).collect()}
    # doc1: 7 bigrams, 2 distinct ("spam ham" x4, "ham spam" x3)
    assert got[1] == (round(1 - 2 / 7, 4), round(4 / 7, 4))
    assert got[2] == (0.0, round(1 / 5, 4))


def test_repetition_stats_null_and_empty_doc_contract(spark):
    """Pin the NULL/empty/short-doc contract (r6 ADVICE item).

    The Arrow kernel maps a doc with < n tokens — including NULL text,
    empty text, and punctuation-only text — to the whole-text-as-one-gram
    rule (total=1, nd=1, top=1), i.e. dup_ngram_frac=0.0, top_ngram_frac
    =1.0.  The documents tables never carry NULL text so no oracle covers
    this; this test keeps the next rewrite from silently drifting it."""
    docs = spark.createDataFrame(
        [
            (1, None),                 # NULL text
            (2, ""),                   # empty text
            (3, "?!... --- ..."),      # tokenizes to zero words
            (4, "solo"),               # one token < n=2
            (5, "plain different words here"),  # control: normal doc
        ],
        ["doc_id", "text"],
    )
    from tegallega_spark.operators.textual import repetition_stats
    got = {r["doc_id"]: (r["dup_ngram_frac"], r["top_ngram_frac"])
           for r in repetition_stats(docs).collect()}
    for d in (1, 2, 3, 4):
        assert got[d] == (0.0, 1.0), f"short-doc contract broke for doc {d}"
    assert got[5] == (0.0, round(1 / 3, 4))


def test_minhash_hot_bucket_cap(spark):
    """A template-spam corpus (many identical docs) must not explode the
    band join when max_bucket is set; default (None) semantics unchanged."""
    import pyspark.sql.functions as F

    from tegallega_spark.operators.dedup import minhash_near_duplicates_verified

    spam = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate template text repeated across every "
              "document in this synthetic spam block").alias("text"),
    )
    full = minhash_near_duplicates_verified(spam, "doc_id", "text")
    assert full.count() == 40 * 39 // 2  # identical docs: all pairs

    capped = minhash_near_duplicates_verified(
        spam, "doc_id", "text", max_bucket=10
    )
    # every bucket holds all 40 docs (identical signatures) -> all dropped
    assert capped.count() == 0


def test_minhash_hot_bucket_remediation(spark):
    """r12 verdict #2: with remediate_dropped, a dropped mega-bucket is
    resolved by a bounded star pass — every member pairs with the bucket
    representative (min id), the verify stage re-checks exact Jaccard,
    and the template cluster becomes collapsible onto one canonical doc
    instead of silently surviving dedup whole."""
    import pyspark.sql.functions as F

    from tegallega_spark.operators.dedup import minhash_near_duplicates_verified

    template = ("the same boilerplate template text repeated across every "
                "document in this synthetic spam block")
    # 40 identical spam docs + 5 distinct background docs
    spam = spark.range(40).select(
        F.col("id").alias("doc_id"), F.lit(template).alias("text"))
    bg = spark.createDataFrame(
        [(100 + i,
          f"completely unrelated background document number {i} with "
          f"its own distinct vocabulary token{i} marker{i} payload{i}")
         for i in range(5)],
        ["doc_id", "text"],
    )
    docs = spam.unionByName(bg)

    got = minhash_near_duplicates_verified(
        docs, "doc_id", "text", max_bucket=10, remediate_dropped=True
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    # exactly the star: doc 0 (bucket min) vs every other spam doc —
    # O(k) pairs, NOT the 40*39/2 quadratic set, and no background doc
    assert pairs == {(0, b) for b in range(1, 40)}
    # verified path: identical docs → jaccard exactly 1.0
    assert all(r["jaccard"] == 1.0 for r in got)
    # the star collapses the cluster: one canonical survivor among spam
    survivors = {i for i in range(40)} - {b for _, b in pairs}
    assert survivors == {0}


def test_cc_raises_when_diameter_exceeds_max_iter(spark):
    """Unconverged labels would silently split one dup cluster into several
    'canonical' docs — the operator must fail loudly instead (ADVICE r2)."""
    import pytest

    chain = spark.createDataFrame([(i, i + 1) for i in range(30)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)
    # and a diameter within the budget still converges cleanly
    got = {r["cluster_id"] for r in connected_components(chain, max_iter=40).collect()}
    assert got == {0}


def test_release_intermediates_frees_operator_caches(spark):
    """LSH operators persist() self-join inputs; the handles must ride out
    on the result so callers can free them after their action (ADVICE r2)."""
    from tegallega_spark.operators.dedup import minhash_near_duplicates_verified
    from tegallega_spark.session import load_table, release_intermediates
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    # force the distributed shape: the r13 single-task profile persists
    # nothing (this test audits the distributed path's cache lifecycle)
    pairs = minhash_near_duplicates_verified(
        docs, "doc_id", "text", single_task=False
    )
    pairs.collect()
    handles = pairs._tegallega_persisted
    # fused path: one encoded frame (band hashes + shingle sets together)
    assert len(handles) >= 1
    assert all(h.is_cached for h in handles)
    assert release_intermediates(pairs) == len(handles)
    assert not any(h.is_cached for h in handles)
    assert release_intermediates(pairs) == 0  # idempotent


# ---------------------------------------------------------------------------
# remove_boilerplate_lines (C4/CCNet-style cross-document line dedup)
# ---------------------------------------------------------------------------

def test_boilerplate_lines_removed_order_preserved(spark):
    from tegallega_spark.operators.textual import remove_boilerplate_lines

    banner = "Subscribe to our newsletter today!"
    docs = [
        (1, f"{banner}\nunique alpha content line\nshared tail line here"),
        (2, f"{banner}\nunique beta content line\nshared tail line here"),
        (3, f"{banner}\nunique gamma content line\nshared tail line here"),
        (4, "totally original document line"),
        # short lines are exempt however common
        (5, "ok\nunique delta content line\nok"),
        (6, "ok\nunique epsilon content line"),
        (7, "ok\nunique zeta content line"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r.text
        for r in remove_boilerplate_lines(
            df, max_doc_frequency=2, min_line_chars=5
        ).collect()
    }
    # banner (3 docs) and shared tail (3 docs) exceed max_df=2 → dropped
    assert out[1] == "unique alpha content line"
    assert out[2] == "unique beta content line"
    assert out[3] == "unique gamma content line"
    assert out[4] == "totally original document line"
    # "ok" is below min_line_chars → kept in all docs, order preserved
    assert out[5] == "ok\nunique delta content line\nok"
    assert out[6] == "ok\nunique epsilon content line"
    assert out[7] == "ok\nunique zeta content line"


def test_boilerplate_lines_null_text_stays_null(spark):
    """NULL in, NULL out — not ''.  A fully-blocked non-NULL doc IS ''
    (the two cases must stay distinguishable downstream)."""
    from tegallega_spark.operators.textual import remove_boilerplate_lines

    banner = "this exact banner line repeats everywhere"
    docs = [
        (1, banner),
        (2, banner),
        (3, None),
        (4, f"{banner}\nsurviving unique line"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r.text
        for r in remove_boilerplate_lines(df, max_doc_frequency=1).collect()
    }
    assert out[1] == "" and out[2] == ""  # fully blocked → empty string
    assert out[3] is None  # NULL preserved
    assert out[4] == "surviving unique line"


def test_boilerplate_line_dedup_matches_duckdb(spark, sf_dir):
    """Same semantics in DuckDB SQL over the documents table — falsifiable
    parity for the blocked-line selection AND the reassembled text."""
    import duckdb

    from tegallega_spark.operators.textual import remove_boilerplate_lines
    from tegallega_spark.session import load_table, table_path

    max_df, min_chars = 1, 10
    docs = load_table(spark, sf_dir, "documents")
    got = {
        r.doc_id: r.text
        for r in remove_boilerplate_lines(
            docs, max_doc_frequency=max_df, min_line_chars=min_chars
        ).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{table_path(sf_dir, 'documents')}')"
    )
    want = dict(
        con.execute(
            f"""
            WITH lines AS (
              SELECT doc_id, pos, line, trim(line) AS t
              FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
                           generate_subscripts(string_split(text, chr(10)), 1) AS pos
                    FROM documents)),
            blocked AS (
              SELECT t FROM lines WHERE length(t) >= {min_chars}
              GROUP BY t HAVING count(DISTINCT doc_id) > {max_df}),
            kept AS (
              SELECT doc_id, pos, line FROM lines
              WHERE length(t) < {min_chars} OR t NOT IN (SELECT t FROM blocked))
            SELECT d.doc_id,
                   coalesce((SELECT string_agg(k.line, chr(10) ORDER BY k.pos)
                             FROM kept k WHERE k.doc_id = d.doc_id), '') AS text
            FROM documents d
            """
        ).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# duplicated_spans / remove_duplicate_spans (ExactSubstr-style span dedup,
# Lee et al. arXiv:2107.06499 at k-shingle resolution)
# ---------------------------------------------------------------------------

def _ref_spans(texts: dict, k: int, min_count: int) -> dict:
    """Brute-force single-node oracle: exact window counts + interval
    merge (adjacent-or-overlapping windows coalesce)."""
    from collections import Counter

    wins, cnt = {}, Counter()
    for d, t in texts.items():
        toks = t.split()
        ws = [tuple(toks[i : i + k]) for i in range(max(0, len(toks) - k + 1))]
        wins[d] = ws
        cnt.update(ws)
    out = {}
    for d, ws in wins.items():
        merged = []
        for i, w in enumerate(ws):
            if cnt[w] < min_count:
                continue
            s, e = i, i + k
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        if merged:
            out[d] = merged
    return out


def test_duplicated_spans_planted_phrase(spark):
    from tegallega_spark.operators.textual import duplicated_spans

    phrase = "one two three four five six seven eight nine ten eleven twelve"
    docs = [
        (1, f"alpha beta gamma {phrase} delta epsilon zeta"),
        (2, f"unrelated opening words here {phrase} and a different tail"),
        (3, "完全 unique content with no repetition at all whatsoever today"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in duplicated_spans(df, k=8, min_count=2).collect()
    }
    # doc 1: phrase occupies tokens [3, 15); doc 2: tokens [4, 16)
    assert got == {(1, 3, 15), (2, 4, 16)}


def test_duplicated_spans_matches_bruteforce_on_real_docs(spark, sf_dir):
    from tegallega_spark.operators.textual import duplicated_spans
    from tegallega_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(150)
    texts = {r.doc_id: r.text for r in docs.collect()}
    want = {
        (d, s, e) for d, spans in _ref_spans(texts, 5, 2).items() for s, e in spans
    }
    got = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in duplicated_spans(docs, k=5, min_count=2).collect()
    }
    assert got == want
    assert want, "no duplicated spans in the corpus — oracle test is vacuous"


def test_remove_duplicate_spans_rebuild(spark):
    from tegallega_spark.operators.textual import remove_duplicate_spans

    boiler = "all rights reserved contact us at the office for details now"
    docs = [
        (1, f"intro words {boiler} outro words"),
        (2, f"{boiler}"),
        (3, "short doc"),  # < k tokens: untouched
        (4, None),  # NULL stays NULL
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r.text
        for r in remove_duplicate_spans(df, k=8, min_count=2).collect()
    }
    assert out[1] == "intro words outro words"
    assert out[2] == ""  # fully duplicated doc
    assert out[3] == "short doc"
    assert out[4] is None


def test_remove_duplicate_spans_byte_exact_outside_cuts(spark):
    """The r5 rebuild slices the ORIGINAL string: tabs, newlines, and
    multi-space runs outside any cut span survive byte-identically (the
    earlier token-rejoin rebuild normalized all whitespace to single
    spaces).  A span at end-of-doc consumes its PRECEDING separator, so
    no dangling whitespace is left behind."""
    from tegallega_spark.operators.textual import remove_duplicate_spans

    boiler = "all rights reserved contact us at the office for details now"
    docs = [
        (1, f"intro\twords  {boiler} outro\nwords  kept"),
        (2, f"{boiler} second copy of it all"),
        (3, f"ends with the block {boiler}"),
        (4, "un\ttouched\n\ndoc  with   odd whitespace"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r.text
        for r in remove_duplicate_spans(df, k=8, min_count=2).collect()
    }
    # whitespace outside the cut is preserved byte-for-byte
    assert out[1] == "intro\twords  outro\nwords  kept"
    assert out[2] == "second copy of it all"
    assert out[3] == "ends with the block"  # no trailing separator left
    assert out[4] == "un\ttouched\n\ndoc  with   odd whitespace"


def test_rolling_hash_fingerprints_short_doc_regression(spark):
    """Docs shorter than the window must yield an empty sketch — the
    descending sequence(1, 0) used to reach slice(start=0) and throw."""
    import pyspark.sql.functions as F2

    from tegallega_spark.operators.textual import rolling_hash_fingerprints

    df = spark.createDataFrame(
        [(1, "only three words"), (2, "a much longer document " * 8)],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", rolling_hash_fingerprints(F2.col("text"), window=8).alias("f")
        ).collect()
    }
    assert rows[1] == []
    assert isinstance(rows[2], list)


# ---------------------------------------------------------------------------
# normalize_text_udf (corpus text normalization)
# ---------------------------------------------------------------------------

def test_normalize_text_pinned_cases(spark):
    import pyspark.sql.functions as F2

    from tegallega_spark.operators.textual import normalize_text_udf

    nt = normalize_text_udf()
    cases = [
        (1, "plain text stays"),
        (2, "CRLF\r\nand CR\rbecome LF"),
        (3, "tabs\t\tand   spaces  collapse"),
        (4, "trailing spaces   \nper line   "),
        (5, "zero​width﻿gone"),
        (6, "ctrl\x00\x01chars\x7fout"),
        (7, "café nfc"),  # e + combining acute → é
        (8, None),
    ]
    df = spark.createDataFrame(cases, "id long, t string")
    out = {r.id: r.n for r in df.select("id", nt(F2.col("t")).alias("n")).collect()}
    assert out[1] == "plain text stays"
    assert out[2] == "CRLF\nand CR\nbecome LF"
    assert out[3] == "tabs and spaces collapse"
    assert out[4] == "trailing spaces\nper line"
    assert out[5] == "zerowidthgone"
    assert out[6] == "ctrlcharsout"
    assert out[7] == "café nfc"
    assert out[8] is None


def test_normalize_text_matches_duckdb(spark, sf_dir):
    """Same normalization as DuckDB SQL (nfc_normalize + the regex chain)
    over the real documents table."""
    import duckdb
    import pyspark.sql.functions as F2

    from tegallega_spark.operators.textual import normalize_text_udf
    from tegallega_spark.session import load_table, table_path

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    nt = normalize_text_udf()
    got = {
        r.doc_id: r.n
        for r in docs.select("doc_id", nt(F2.col("text")).alias("n")).collect()
    }
    want = dict(
        duckdb.connect().execute(
            f"""
            SELECT doc_id, trim(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(nfc_normalize(text), '\r\n|\r', chr(10), 'g'),
                    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f\\u200b\\u200c\\u200d\\u2060\\ufeff]', '', 'g'),
                  '[ \t]+', ' ', 'g'),
                '[ \t]+\n', chr(10), 'g'))
            FROM read_parquet('{table_path(sf_dir, "documents")}')
            """
        ).fetchall()
    )
    assert got == want


def test_remove_duplicate_spans_keep_first(spark):
    """keep_first=True: the paper's all-but-one removal — the globally
    first (min doc id, pos) occurrence of the boilerplate survives, every
    later occurrence is cut; doc-internal repeats keep their first copy."""
    from tegallega_spark.operators.textual import remove_duplicate_spans

    boiler = "all rights reserved contact us at the office for details now"
    docs = [
        (1, f"intro words {boiler} outro words"),
        (2, f"{boiler} trailing unique content here today"),
        (5, f"prefix {boiler} suffix"),
        # doc-internal duplicate: second copy dropped, first kept
        (7, f"opening {boiler} middle {boiler} closing"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r.text
        for r in remove_duplicate_spans(df, k=8, min_count=2, keep_first=True).collect()
    }
    assert out[1] == f"intro words {boiler} outro words"  # first occurrence kept
    assert out[2] == "trailing unique content here today"
    assert out[5] == "prefix suffix"
    assert out[7] == "opening middle closing"  # both in-doc copies are later than doc 1's

    # default stance unchanged: everything duplicated is dropped everywhere
    out_all = {
        r.doc_id: r.text
        for r in remove_duplicate_spans(df, k=8, min_count=2).collect()
    }
    assert out_all[1] == "intro words outro words"


def test_boilerplate_broadcast_gate_falls_back_above_limit(spark):
    """ADVICE r4: the broadcast hint is gated on the blocked set's actual
    count — above broadcast_limit the anti-join must NOT carry a broadcast
    hint (AQE/size estimation decides), below it the hint is pinned.
    Identical output either way; the persisted blocked set is released
    via release_intermediates."""
    from tegallega_spark.operators.textual import remove_boilerplate_lines
    from tegallega_spark.session import release_intermediates

    banner_docs = []
    for d in range(4):
        lines = [f"shared boilerplate line number {i}" for i in range(10)]
        lines.append(f"unique content for document {d}")
        banner_docs.append((d, "\n".join(lines)))
    df = spark.createDataFrame(banner_docs, "doc_id long, text string")

    forced_shuffle = remove_boilerplate_lines(
        df, max_doc_frequency=2, broadcast_limit=3  # 10 blocked > 3
    )
    hinted = remove_boilerplate_lines(
        df, max_doc_frequency=2, broadcast_limit=10_000
    )
    plan_shuffle = forced_shuffle._jdf.queryExecution().toString()
    want = {(d, f"unique content for document {d}") for d in range(4)}
    assert {(r.doc_id, r.text) for r in forced_shuffle.collect()} == want
    assert {(r.doc_id, r.text) for r in hinted.collect()} == want
    # above the gate: no broadcast HINT on the anti join in the analyzed
    # plan (AQE may still choose broadcast from true sizes — that's the
    # point: the decision returns to size-based safety)
    analyzed_hinted = hinted._jdf.queryExecution().analyzed().toString()
    analyzed_gated = forced_shuffle._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in analyzed_hinted.lower()
    assert "hint" not in analyzed_gated.lower() or "broadcast" not in analyzed_gated.lower()
    assert release_intermediates(forced_shuffle) == 1
    assert release_intermediates(hinted) == 1
    del plan_shuffle


# ---------------------------------------------------------------------------
# gopher_quality_flags (MassiveText document-quality rules, Rae et al.)
# ---------------------------------------------------------------------------

def test_gopher_flags_each_rule_triggers(spark):
    from tegallega_spark.operators.textual import gopher_quality_flags

    good = ("the data to be used of and that have with analysis " * 6).strip()
    docs = [
        (1, good),                                      # passes everything
        (2, "the of and to be"),                        # too few words
        (3, "## " * 60 + good),                         # symbol ratio (hashes)
        (4, "\n".join("- the item of note here today" for _ in range(20))),  # bullets
        (5, "\n".join("the thing goes on..." for _ in range(10))),  # ellipsis lines
        (6, ("0101 1100 1010 0110 " * 15) + "the of"),  # alpha-word frac
        (7, ("zzzz qqqq wwww eeee rrrr " * 12).strip()),  # no stop words
        (8, None),                                      # NULL: all false
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert got[1]["gopher_pass"] is True
    assert got[2]["ok_word_count"] is False and got[2]["gopher_pass"] is False
    assert got[3]["ok_symbol_ratio"] is False
    assert got[4]["ok_bullet_lines"] is False
    assert got[5]["ok_ellipsis_lines"] is False
    assert got[6]["ok_alpha_words"] is False
    assert got[7]["ok_stopwords"] is False
    assert got[8]["gopher_pass"] is False and got[8]["n_words"] == 0


def test_gopher_flags_scan_side_no_shuffle(spark, sf_dir):
    """Gopher scoring is a scan-side map: zero exchanges in the plan."""
    from tegallega_spark.operators.textual import gopher_quality_flags
    from tegallega_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = gopher_quality_flags(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mixture_sample_targets_and_determinism(spark):
    """mixture_sample keeps ALL of the binding stratum and hits the target
    shares within hash-sampling noise; rerun returns the identical rows."""
    from tegallega_spark.operators.sampling import mixture_sample

    rows = [(i, "web" if i % 10 < 6 else ("books" if i % 10 < 9 else "code"))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    targets = {"web": 0.2, "books": 0.3, "code": 0.5}
    # counts: web 2400, books 1200, code 400 -> N = min(12000, 4000, 800) = 800
    # rates: web 160/2400, books 240/1200, code 400/400 = 1.0 (binding)
    out = mixture_sample(df, key="doc_id", stratum="source", targets=targets)
    got = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count("*").alias("n")).collect()}
    assert got["code"] == 400                      # binding stratum: keep all
    assert abs(got["web"] - 160) <= 40             # ~3 sigma of binomial(2400, 1/15)
    assert abs(got["books"] - 240) <= 45
    # deterministic: the same rows, not just the same counts
    again = mixture_sample(df, key="doc_id", stratum="source", targets=targets)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect())
    # absent stratum with nonzero weight is an error, not a silent empty set
    with pytest.raises(ValueError, match="no rows"):
        mixture_sample(df, key="doc_id", stratum="source",
                       targets={"web": 0.5, "nope": 0.5})
    with pytest.raises(ValueError, match="sum to 1"):
        mixture_sample(df, key="doc_id", stratum="source", targets={"web": 0.2})


def test_mixture_sample_scan_side_filter(spark):
    """With precomputed counts the mixture is a pure scan filter — no
    shuffle, no collect: the 100 TB path."""
    from tegallega_spark.operators.sampling import mixture_sample

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    out = mixture_sample(df, key="doc_id", stratum="source",
                         targets={"a": 0.5, "b": 0.5}, counts={"a": 500, "b": 500})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_rolling_fingerprints_md5_hasher_matches_reference_hash(spark):
    """The md5 hasher is the documented first-60-bits-of-md5 value — pin one
    shingle's fingerprint against hashlib computed in plain Python."""
    import hashlib

    from tegallega_spark.operators.textual import rolling_hash_fingerprints

    words = [f"w{i}" for i in range(8)]
    text = " ".join(words)
    expected = int(hashlib.md5(text.encode()).hexdigest()[:15], 16)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = df.select(
        rolling_hash_fingerprints(F.col("text"), window=8, keep_every=1,
                                  hasher="md5").alias("fps")
    ).collect()[0]["fps"]
    assert out == [expected]
    with pytest.raises(ValueError, match="unknown hasher"):
        df.select(rolling_hash_fingerprints(F.col("text"), hasher="sha1"))


def test_dedupe_paragraphs_keep_first_order(spark):
    """Intra-doc paragraph dedup: adjacent AND distant repeats removed,
    first-occurrence order preserved, whitespace-only paragraphs dropped,
    NULL text stays NULL."""
    from tegallega_spark.operators.textual import dedupe_paragraphs

    docs = [
        (1, "alpha beta\n\ngamma\n\nalpha beta\n\ndelta\n\ngamma"),
        (2, "one\n\n   \n\none\n \ntwo"),          # blank para; "one\n \ntwo" split
        (3, None),
        (4, "solo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.c for r in df.select(
        "doc_id", dedupe_paragraphs(F.col("text")).alias("c")).collect()}
    assert got[1] == "alpha beta\n\ngamma\n\ndelta"
    assert got[2] == "one\n\ntwo"
    assert got[3] is None
    assert got[4] == "solo"


def test_dedupe_paragraphs_scan_side(spark, sf_dir):
    """Pure column expression: no exchange, no Python in the plan."""
    from tegallega_spark.operators.textual import dedupe_paragraphs
    from tegallega_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = docs.select(dedupe_paragraphs(F.col("text")).alias("c"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_mixture_sample_independent_of_stratified_sampler(spark):
    """The mixture's salted hash stream is independent of hash_bucket's:
    applying a 50% bucket cut AFTER a 50% mixture keeps ~25% overall, not
    ~50% (the correlated-sampler bug: bucket is the top 8 bits of the
    UNSALTED md5 fraction, so unsalted mixture survivors would all sit
    below any bucket threshold above their rate).  Zero caller-supplied
    counts raise the designed ValueError, not ZeroDivisionError."""
    from tegallega_spark.operators.sampling import hash_sample, mixture_sample

    df = spark.range(8000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("ref").alias("source"),
    )
    # web: 4000 rows at weight 0.2, ref: 4000 at 0.8 -> N = 5000,
    # rate_web = 0.25 (downsampled), rate_ref = 1.0 (binding)
    mixed = mixture_sample(df, key="doc_id", stratum="source",
                           targets={"web": 0.2, "ref": 0.8})
    web = mixed.filter(F.col("source") == "web")
    n_web = web.count()
    assert abs(n_web - 1000) < 150
    after_cut = hash_sample(web, key="doc_id", threshold="80").count()
    assert abs(after_cut - n_web / 2) < 120, (
        f"bucket cut kept {after_cut}/{n_web} — correlated hash streams"
    )
    with pytest.raises(ValueError, match="no rows"):
        mixture_sample(df, key="doc_id", stratum="source",
                       targets={"web": 0.5, "ghost": 0.5},
                       counts={"web": 4000, "ghost": 0})


# ---------------------------------------------------------------------------
# chunk_documents (sliding-window chunking, r6)
# ---------------------------------------------------------------------------

def test_chunk_documents_overlap_and_tail(spark):
    from tegallega_spark.operators.textual import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x"), (3, None), (4, "   "), (5, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, chunk_tokens=4, stride=2).collect()
    got = {(r.doc_id, r.chunk_idx): (r.n_tokens, r.chunk_text) for r in rows}
    # doc 1: 7 tokens, starts 0/2/4/6 -> lengths 4,4,3,1
    assert got[(1, 0)] == (4, "a b c d")
    assert got[(1, 1)] == (4, "c d e f")
    assert got[(1, 2)] == (3, "e f g")
    assert got[(1, 3)] == (1, "g")
    assert got[(2, 0)] == (1, "x")
    # NULL / whitespace-only / empty docs emit no chunks
    assert {k[0] for k in got} == {1, 2}


def test_chunk_documents_nonoverlap_tiles_exactly(spark):
    from tegallega_spark.operators.textual import chunk_documents

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_tokens=4).collect(),
        key=lambda r: r.chunk_idx,
    )
    # default stride == chunk_tokens: 4+4+2, concatenation recovers the doc
    assert [r.n_tokens for r in rows] == [4, 4, 2]
    assert " ".join(r.chunk_text for r in rows) == text


def test_chunk_documents_whitespace_class_matches_token_count(spark):
    """Tabs/newlines/CR split exactly like token_count's Java \\s."""
    import pyspark.sql.functions as F

    from tegallega_spark.operators.textual import chunk_documents, token_count

    df = spark.createDataFrame(
        [(9, "a\tb\r\nc  d\x0be")], "doc_id long, text string"
    )
    total = df.select(token_count(F.col("text"))).first()[0]
    rows = chunk_documents(df, chunk_tokens=100).collect()
    assert len(rows) == 1 and rows[0].n_tokens == total == 5
    assert rows[0].chunk_text == "a b c d e"


def test_minhash_single_task_matches_distributed_bitwise(spark):
    """r13 single-task profile for the fused verified-MinHash: the gated
    one-job shape must emit the IDENTICAL pair multiset with bit-identical
    Jaccards (same kernels, same long->double division).  Edge rows:
    NULL/empty text, a duplicated doc_id (the distributed verify joins
    emit one row per row-pair), and string-vs-long id ordering."""
    import struct

    from tegallega_spark.operators.dedup import minhash_near_duplicates_verified

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base),
        (2, base + " today"),
        (3, base),
        (3, base + " again"),   # duplicated id, different text
        (4, None),
        (5, ""),
        (6, "completely different vocabulary with no shared shingles here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(st):
        out = minhash_near_duplicates_verified(
            docs, "doc_id", "text", jaccard_threshold=0.5, single_task=st
        )
        return sorted(
            (r.id_a, r.id_b, struct.pack("<d", r.jaccard).hex())
            for r in out.collect()
        )

    dist, single = run(False), run(True)
    assert dist and dist == single


def test_minhash_single_task_rejects_max_bucket(spark):
    import pytest

    from tegallega_spark.operators.dedup import minhash_near_duplicates_verified

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_bucket"):
        minhash_near_duplicates_verified(
            docs, "doc_id", "text", max_bucket=5, single_task=True
        )


def test_duplicated_spans_single_task_matches_distributed(spark):
    """r13 single-task profile for duplicated_spans: identical row set to
    the distributed window shape (all-integer pipeline, so exact equality
    with no float caveat).  Edge rows: a duplicated doc_id whose two rows
    must MERGE in one interval pass (the window partitions by id value),
    NULL/empty text, and a below-k doc."""
    from tegallega_spark.operators.textual import duplicated_spans

    rows = [
        (1, "a b c d e f g h i j a b c d e f g h i j"),
        (1, "x y a b c d e f g h i j z"),
        (2, "a b c d e f g h i j"),
        (3, None),
        (4, ""),
        (5, "just seven tokens here not enough pad"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for kf in (False, True):
        dist = sorted(
            tuple(r)
            for r in duplicated_spans(
                docs, k=8, min_count=2, keep_first=kf, single_task=False
            ).collect()
        )
        single = sorted(
            tuple(r)
            for r in duplicated_spans(
                docs, k=8, min_count=2, keep_first=kf, single_task=True
            ).collect()
        )
        assert dist and dist == single
