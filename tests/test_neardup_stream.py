"""Streaming LSH near-dup: candidate parity with the batch banded join,
including across separate incremental deliveries (state persistence)."""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F

from tegallega_spark.operators.dedup import make_band_hash_udf, _pairs_from_band_hashes
from tegallega_spark.session import load_table
from tegallega_spark.streaming.events import run_available_now
from tegallega_spark.streaming.neardup_stream import neardup_candidates_stream
from tests.conftest import SF_SMOKE

DOC_SCHEMA = "doc_id bigint, text string"


def _batch_candidates(spark, docs):
    bh_udf = make_band_hash_udf(3, 32, 16)
    bh = docs.select(
        F.col("doc_id").alias("__id"), bh_udf(F.col("text")).alias("__bh")
    )
    return {
        (r.id_a, r.id_b) for r in _pairs_from_band_hashes(bh).collect()
    }


def test_stream_candidates_match_batch(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = _batch_candidates(spark, docs)
    assert want, "smoke corpus should contain banded candidates"

    feed = tmp_path / "feed"
    feed.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(feed / "all.parquet"))
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(str(feed / "all.parquet"))
    result = neardup_candidates_stream(stream)
    with tempfile.TemporaryDirectory() as ckpt:
        run_available_now(result, "neardup_stream_all", ckpt, output_mode="append")
    got = {
        (r.id_a, r.id_b)
        for r in spark.sql("SELECT DISTINCT id_a, id_b FROM neardup_stream_all").collect()
    }
    assert got == want


def test_cross_delivery_pairs_found(spark, tmp_path):
    """A near-dup whose twin arrived in an EARLIER delivery must still be
    flagged — bucket state persists across incremental runs."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = _batch_candidates(spark, docs)
    # split so that at least one known pair straddles the deliveries
    a_id, b_id = sorted(next(iter(sorted(want))))
    first = docs.filter(F.col("doc_id") % 2 == a_id % 2)
    second = docs.filter(F.col("doc_id") % 2 != a_id % 2)
    if b_id % 2 == a_id % 2:  # both landed in `first`: move b over
        first = first.filter(F.col("doc_id") != b_id)
        second = second.unionByName(docs.filter(F.col("doc_id") == b_id))

    feed = tmp_path / "feed2"
    feed.mkdir()
    ckpt = str(tmp_path / "ckpt2")
    sink = str(tmp_path / "sink2")
    key = (a_id, b_id) if a_id < b_id else (b_id, a_id)

    def deliver(df, n):
        # memory sinks can't recover a checkpoint; the file sink is the
        # recoverable one, matching a real incremental deployment
        df.coalesce(1).write.mode("overwrite").parquet(str(feed / f"d{n}.parquet"))
        stream = spark.readStream.schema(DOC_SCHEMA).parquet(f"{feed}/*.parquet")
        result = neardup_candidates_stream(stream)
        q = (
            result.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(sink).select("id_a", "id_b").distinct().collect()
        }

    got1 = deliver(first, 1)
    assert key not in got1

    got2 = deliver(second, 2)
    assert key in got2, "cross-delivery pair missed — state not persisted"
    assert got2 == want


def test_stream_verified_pairs_match_batch(spark, tmp_path):
    """End-to-end falsifiable contract: streamed candidates + per-batch
    exact verification must reproduce the batch verified result — same
    pairs, same exact Jaccard values — including across deliveries."""
    from tegallega_spark.operators.dedup import minhash_near_duplicates_verified
    from tegallega_spark.streaming.neardup_stream import verified_neardup_sink

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_near_duplicates_verified(
            docs, "doc_id", "text", shingle_n=3, jaccard_threshold=0.7
        ).collect()
    }
    assert want, "smoke corpus should contain verified near-dups"

    feed = tmp_path / "vfeed"
    feed.mkdir()
    ckpt = str(tmp_path / "vckpt")
    sink = str(tmp_path / "vsink")

    # two deliveries so at least some pairs straddle state
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(feed / "d1.parquet")
    )

    def run_delivery():
        stream = spark.readStream.schema(DOC_SCHEMA).parquet(f"{feed}/*.parquet")
        q = verified_neardup_sink(
            neardup_candidates_stream(stream),
            lambda: spark.read.schema(DOC_SCHEMA).parquet(f"{feed}/*.parquet"),
            sink,
            ckpt,
            jaccard_threshold=0.7,
        )
        q.awaitTermination()

    run_delivery()
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(feed / "d2.parquet")
    )
    run_delivery()

    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in spark.read.parquet(sink).distinct().collect()
    }
    assert got == want


def _run_candidates(spark, feed, ckpt, sink, cands=None):
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(f"{feed}/*.parquet")
    q = (
        (cands(stream) if cands else neardup_candidates_stream(stream))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_old_state_schema_rejected_at_startup(spark, tmp_path):
    """A checkpoint whose state predates STATE_SCHEMA's version field
    (the r14 layout) must fail when the query starts, not be misread:
    Spark's own state-schema check rejects the different value schema."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from tegallega_spark.streaming import neardup_stream as NS

    old_schema = "hashes array<bigint>, flat_ids array<bigint>, offsets array<int>"

    def old_matcher(key, pdfs, state):
        for _ in pdfs:
            pass
        state.update(([1], [2], [0, 1]))
        return iter([])

    def old_candidates(stream):
        bh_udf = make_band_hash_udf(3, 32, 16)
        banded = stream.select(
            "doc_id", F.posexplode(bh_udf(F.col("text"))).alias("band_idx", "band_hash")
        ).withColumn("__shard", F.pmod(F.col("band_hash"), F.lit(NS.STATE_SHARDS)))
        return banded.groupBy("band_idx", "__shard").applyInPandasWithState(
            old_matcher,
            outputStructType=NS.PAIR_SCHEMA,
            stateStructType=old_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    feed, ckpt, sink = tmp_path / "feed", str(tmp_path / "ckpt"), str(tmp_path / "sink")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(feed / "d1.parquet"))
    _run_candidates(spark, feed, ckpt, sink, old_candidates)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(feed / "d2.parquet"))
    with pytest.raises(StreamingQueryException, match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"):
        _run_candidates(spark, feed, ckpt, sink)


def test_other_state_version_rejected(spark, tmp_path, monkeypatch):
    """State of the same schema but another STATE_VERSION (a format change
    the schema cannot show) fails on its first read instead of being
    misread."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tegallega_spark.streaming import neardup_stream as NS

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    feed, ckpt, sink = tmp_path / "feed", str(tmp_path / "ckpt"), str(tmp_path / "sink")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(feed / "d1.parquet"))
    with monkeypatch.context() as m:
        m.setattr(NS, "STATE_VERSION", NS.STATE_VERSION + 1)
        _run_candidates(spark, feed, ckpt, sink)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(feed / "d2.parquet"))
    with pytest.raises(StreamingQueryException, match="format version"):
        _run_candidates(spark, feed, ckpt, sink)


import os

import pytest


def test_stream_checkpoint_recovery_mid_corpus(spark, tmp_path):
    """r9 verdict #4: the claim a production stream actually rests on —
    kill the verified near-dup stream mid-corpus and restart it from its
    checkpoint; the final verified pair set must still equal the batch
    operator's.  The crash is injected through the public `corpus`
    callable seam (raises inside the Nth micro-batch BEFORE that batch's
    sink write), so the dead query has committed some batches' offsets +
    state and not others — exactly a worker/driver crash between
    triggers.  Recovery must (a) resume from the committed offset, not
    batch 0, and (b) rehydrate bucket state so pairs straddling the crash
    point are still found."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tegallega_spark.operators.dedup import minhash_near_duplicates_verified
    from tegallega_spark.streaming.neardup_stream import verified_neardup_sink

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_near_duplicates_verified(
            docs, "doc_id", "text", shingle_n=3, jaccard_threshold=0.7
        ).collect()
    }
    assert want, "smoke corpus should contain verified near-dups"

    feed = tmp_path / "rfeed"
    feed.mkdir()
    ckpt = str(tmp_path / "rckpt")
    sink = str(tmp_path / "rsink")
    # 8 single-file deliveries, one trigger each (maxFilesPerTrigger=1)
    for k in range(8):
        docs.filter(F.col("doc_id") % 8 == k).coalesce(1).write.parquet(
            str(feed / f"d{k}.parquet")
        )

    calls = {"n": 0}
    crash_at = 3

    def corpus():
        calls["n"] += 1
        if calls["n"] == crash_at:
            raise RuntimeError("injected crash: process died mid-corpus")
        return spark.read.schema(DOC_SCHEMA).parquet(f"{feed}/*.parquet")

    def start():
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{feed}/*.parquet")
        )
        return verified_neardup_sink(
            neardup_candidates_stream(stream), corpus, sink, ckpt,
            jaccard_threshold=0.7,
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        start().awaitTermination()

    # the stream died mid-corpus: strictly fewer than all batches ran, so
    # the sink must be a PARTIAL subset (this is what makes the restart a
    # real recovery, not a no-op)
    partial = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in spark.read.parquet(sink).distinct().collect()
    }
    assert partial <= want and partial != want

    # restart from the same checkpoint — no crash this time
    q = start()
    q.awaitTermination()
    # the recovered run resumed, not restarted: at most (8 - committed) + 1
    # corpus calls happened after the crash, never all 8 again
    assert calls["n"] < 8 + crash_at

    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in spark.read.parquet(sink).distinct().collect()
    }
    assert got == want


@pytest.mark.nightly
@pytest.mark.skipif(
    not os.environ.get("TEGALLEGA_NIGHTLY"),
    reason="raced-size streaming replay is the nightly tier — set TEGALLEGA_NIGHTLY=1",
)
def test_stream_race_replay_at_scale(spark):
    """Replay of scripts/stress_stream.py's raced regime (sf0.1 docs
    replicated 8x = 40k docs, 32 hash-shuffled microbatch files, one
    trigger per file) inside the test harness: streamed candidates and
    exact-verified pairs must equal the batch operator's — the same
    asserts the race makes, kept on the nightly record so a state or
    trigger regression can't hide between race runs."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "stress_stream",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", "stress_stream.py"),
    )
    ss = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ss)

    os.makedirs(ss.OUT, exist_ok=True)
    feed, total = ss.build_feed(spark, 8)
    assert total == 40_000
    _, stream_cands, metrics = ss.run_stream(spark, feed)
    _, batch_cands, batch_verified = ss.batch_answers(spark, feed)
    assert stream_cands == batch_cands
    assert ss.verify_stream_pairs(spark, feed, stream_cands) == batch_verified
    assert metrics["triggers"] > 10  # genuinely incremental, not one batch
