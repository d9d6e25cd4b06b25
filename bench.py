#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact (<1,800-char — the driver keeps a 2,000-char stdout tail) JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "runs_per_query": 3, "sf": ..., "secondary_sf": "0.1x4",
     "secondary_value": N}
(or, when the secondary point fails twice, a compact
 "secondary_error": "<first line>" in place of the secondary fields)
Per-query spreads (max-min over the runs) and the secondary scale point's
full per-query map are printed to stderr as `#` comment lines.

value = total wall-clock seconds over the headline set (excluding Spark
session startup), which is the number compared against BASELINE.  Each
per-query number is the MEDIAN of $SPARK_GRAFT_BENCH_RUNS (default 3)
full executions; `spread` is max-min over those runs, so a reader can
tell a real round-over-round regression from this VM's ±60% sub-second
jitter.

`secondary` is a SECOND scale point: the same headline set on an N×
key-shifted replica of the primary tables (tegallega_spark/scale_data.py),
so per-round BENCH files surface scale regressions, not just 1× ones.
Control with SPARK_GRAFT_BENCH_SCALE2 (replication factor, default 4;
"0"/"off" disables) or point SPARK_GRAFT_SF2_DIR at an existing directory
to use it as the second point directly.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tegallega_spark.session import get_spark  # noqa: E402
from tegallega_spark.queries import SPARK_QUERIES  # noqa: E402

# Headline set: one per operator family, weighted toward the shapes that
# dominate at 100 TB (scan-agg, join-agg, window, dedup, similarity, text).
HEADLINE = [
    "q01_pricing_summary",    # full-scan multi-agg
    "q02_filter_topk",        # pushdown scan + top-k
    "q05_region_revenue",     # star join + agg
    "q08_argminmax_join",        # argmin groupBy
    "q11_dedup_first_last",   # window dedup
    "q16_cumsum_offsets",     # cumulative + offset window
    "q19_topk_per_group",     # top-k window
    "q22_sessionize",         # lag + agg
    "q24_pivot_unpivot",      # pivot round-trip
    "q31_tumbling_window",    # event-time window agg
    "q32_exact_dedup_docs",   # text fingerprint dedup
    "q35_minhash_neardup",    # MinHash-LSH
    "q37_lang_detect",        # text analysis
    "q38_ann_topk",           # similarity search
    "q41_stateful_thinning",  # applyInPandas stateful fold (r11)
    "q51_duplicated_spans",   # ExactSubstr span dedup (r5: driver-tracked)
    "q56_lm_perplexity",      # bigram-LM train + score (r5)
    "q58_image_resize_features",  # codec chain: decode→resize→encode→features (r6)
    "q60_segment_snap",       # spatial point-to-segment projection join (r11)
    "q69_ivfpq_full_rerank",  # IVF-PQ ANN: train + codes-only ADC scan (r6)
    "q72_mini_clean_corpus",  # COMPOSED normalize→para-dedup→gopher→mixture (r7)
]


def _newest_prior_bench(repo):
    """Newest BENCH_r{N}.json next to this script, EXCLUDING the current
    round's own artifact (r10 ADVICE: on a re-run after the harness saved
    BENCH_r{N}.json, comparing to the newest file compares the round to
    itself).  The current round is $SPARK_GRAFT_ROUND when set, else
    (VERDICT.md's round + 1) — the verdict for round N ships at the start
    of round N+1, so files numbered > N are this round's, not priors.

    Shared with tests/test_bench_delta.py (r11 verdict #1: the test
    discovered "the newest artifact" its own way, diverged from this
    selection the moment the driver deposited the current round's file,
    and went red in the committed tree).  Returns (round, path) or None.
    """
    import glob
    import re

    cur_round = None
    env_round = os.environ.get("SPARK_GRAFT_ROUND", "")
    if env_round.isdigit():
        cur_round = int(env_round)
    else:
        try:
            with open(os.path.join(repo, "VERDICT.md")) as f:
                m = re.search(r"VERDICT\s*[—-]+\s*round\s+(\d+)", f.read(200))
            if m:
                cur_round = int(m.group(1)) + 1
        except OSError:
            pass
    benches = {}
    for p in glob.glob(os.path.join(repo, "BENCH_r*.json")):
        m = re.search(r"BENCH_r0*(\d+)\.json$", p)
        if m and (cur_round is None or int(m.group(1)) < cur_round):
            benches[int(m.group(1))] = p
    if not benches:
        return None
    return max(benches.items())


def _report_delta_vs_prior(result, spreads, secondary,
                           cpus: int | None = None) -> None:
    """Round-over-round adjudication ON THE RECORD (r9 verdict #2: the
    r9 artifact's +18% went unremarked and took a judge re-run to call as
    jitter).  Finds the newest BENCH_r{N}.json next to this script,
    prints primary/secondary deltas vs it, and adjudicates the primary.

    "Newest" excludes the CURRENT round's artifact (r10 ADVICE: on a
    re-run after the harness already saved BENCH_r{N}.json, comparing to
    the newest file compares this round to itself).  The current round
    is taken from $SPARK_GRAFT_ROUND when set, else inferred as
    (VERDICT.md's round + 1) — the verdict for round N ships at the
    START of round N+1, so BENCH files numbered > N are this round's
    own artifacts, not priors.
    delta against the measured per-query spreads: if the total movement
    is within the summed spread envelope of the two rounds (this round's
    measured spreads counted twice as a proxy for the prior round's),
    it's labeled within-noise; otherwise exceeds-spread, which a reader
    should treat as a real regression/improvement.  Favorable and adverse
    deltas are printed identically.

    `cpus` is this run's core count.  A prior recorded on a different
    core count (its artifact's top-level "cpus") is not a baseline: the
    line reports both totals and "not comparable (P vs C cores)" instead
    of a verdict.  With `cpus` unknown (None) no such check is made."""
    repo = os.path.dirname(os.path.abspath(__file__))
    prior = _newest_prior_bench(repo)
    if prior is None:
        return
    n_prev, path = prior
    try:
        with open(path) as f:
            record = json.load(f)
        prev = record.get("parsed") or {}
    except Exception:
        return
    prev_val = prev.get("value")
    if not isinstance(prev_val, (int, float)) or prev_val <= 0:
        print(f"# delta vs BENCH_r{n_prev}: prior primary unparsable",
              file=sys.stderr)
        return
    cur = result["value"]
    prev_cpus = record.get("cpus")
    if cpus is not None and isinstance(prev_cpus, int) and prev_cpus != cpus:
        print(f"# delta vs BENCH_r{n_prev}: primary {prev_val}->{cur}s "
              f"not comparable ({prev_cpus} vs {cpus} cores)", file=sys.stderr)
        return
    pct = 100.0 * (cur - prev_val) / prev_val
    # noise envelope: sum of per-query spreads, counted for both rounds
    envelope = 2.0 * sum(spreads.values())
    verdict = "within-noise" if abs(cur - prev_val) <= envelope else "exceeds-spread"
    line = (f"# delta vs BENCH_r{n_prev}: primary {prev_val}->{cur}s "
            f"({pct:+.1f}%), spread envelope +/-{envelope:.2f}s -> {verdict}")
    # When the headline SET changed between rounds, the raw totals are
    # not comparable (r11: adding q41+q60 per the r10 verdict #7 made a
    # -21% like-for-like move print as +1.3%).  Also adjudicate the
    # intersection, with its own envelope restricted to shared queries.
    prev_q = prev.get("queries") or {}
    cur_q = result.get("queries") or {}
    if prev_q and cur_q and set(prev_q) != set(cur_q):
        shared = sorted(set(prev_q) & set(cur_q))
        pv = sum(prev_q[q] for q in shared)
        # r11 ADVICE: disjoint sets (or an all-zero prior) make pv 0 and
        # the percentage below would raise, killing the run before the
        # final JSON prints.  Emit the facts without the ratio instead.
        if shared and pv > 0:
            cv = sum(cur_q[q] for q in shared)
            env_s = 2.0 * sum(spreads.get(q, 0.0) for q in shared)
            sverdict = ("within-noise" if abs(cv - pv) <= env_s
                        else "exceeds-spread")
            line += (f"; like-for-like over {len(shared)} shared queries "
                     f"{pv:.2f}->{cv:.2f}s ({100.0 * (cv - pv) / pv:+.1f}%, "
                     f"envelope +/-{env_s:.2f}s -> {sverdict}; "
                     f"added {sorted(set(cur_q) - set(prev_q))}, "
                     f"removed {sorted(set(prev_q) - set(cur_q))})")
        else:
            line += (f"; no shared queries with prior round "
                     f"(added {sorted(set(cur_q) - set(prev_q))}, "
                     f"removed {sorted(set(prev_q) - set(cur_q))})")
    prev_sec = prev.get("secondary_value")
    if secondary is not None and isinstance(prev_sec, (int, float)) and prev_sec > 0:
        sv = secondary["value"]
        spct = 100.0 * (sv - prev_sec) / prev_sec
        line += f"; secondary {prev_sec}->{sv}s ({spct:+.1f}%)"
    print(line, file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("tegallega-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM, codegen, parquet reader path, and file-index caches with
    # untimed trivial actions — bench measures query execution, not one-time
    # session initialization
    spark.range(1).count()
    from tegallega_spark.session import load_table

    for t in ("lineitem", "orders", "customer", "part", "supplier",
              "nation", "region", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, t).limit(1).collect()

    # Python/Arrow UDF worker-pool warm-up is the session factory's job
    # since r8 (session._prefork_python_workers, run inside get_spark
    # above) — no hand-rolled duplicate here, so the two paths can't
    # drift (r8 verdict #8).

    # steady-state warmup: run every headline query once at the SMALLEST
    # scale factor (untimed) so whole-stage-codegen compilation, JIT, and
    # Arrow serializer initialization happen before the clock starts — the
    # timed numbers then measure per-query execution, not first-touch
    # compilation (which on a long-lived cluster amortizes to zero)
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf) and warm_sf != sf_dir:
        for name in HEADLINE:
            try:
                SPARK_QUERIES[name](spark, warm_sf).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass
        spark.catalog.clearCache()

    # median-of-N per query (default 3): the box this runs on is a shared
    # VM whose sub-second runs jitter ±60-70% run to run (r3 verdict: q16
    # moved 0.42→0.72 s with zero code changes), so a single sample cannot
    # distinguish a real regression from noise.  The median is robust to
    # one bad sample either way; the per-query spread (max-min over the
    # timed runs) is emitted alongside so round-over-round comparisons can
    # tell signal from noise instead of guessing.
    # clearCache() between runs keeps every run a full execution — queries
    # with internal persist() would otherwise reuse run 1's cache through
    # logical-plan matching.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    def time_headline(dir_: str, label: str) -> tuple[dict[str, float], dict[str, float]]:
        timings: dict[str, float] = {}
        spreads: dict[str, float] = {}
        for name in HEADLINE:
            q = SPARK_QUERIES[name]
            samples = []
            for _ in range(n_runs):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = q(spark, dir_)
                # noop sink fully materializes every column (count() would
                # let Catalyst prune projections and flatter the numbers)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            samples.sort()
            timings[name] = round(statistics.median(samples), 3)
            spreads[name] = round(samples[-1] - samples[0], 3)
            print(
                f"# {label} {name}: median {timings[name]}s "
                f"(spread {spreads[name]}s over {n_runs})",
                file=sys.stderr,
            )
        return timings, spreads

    timings, spreads = time_headline(sf_dir, "primary")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # second scale point (see module docstring).  RETRY once on failure
    # (r8 verdict #1: a transient JVM shuffle error dropped the round's
    # whole scale-regression guard from the record — the identical path
    # re-ran clean), and on final failure record a COMPACT first-line
    # error in the JSON instead of flooding the 2,000-char stdout tail
    # with a Py4J-stringified Java stack trace that buries the data.
    secondary = None
    secondary_error = None
    for attempt in range(2):
        try:
            sf2_dir = os.environ.get("SPARK_GRAFT_SF2_DIR")
            scale2 = os.environ.get("SPARK_GRAFT_BENCH_SCALE2", "4").lower()
            if sf2_dir:
                sf2_label = sf2_dir.rstrip("/").rsplit("sf", 1)[-1]
            elif scale2 not in ("0", "off", ""):
                n = int(scale2)
                from tegallega_spark.scale_data import SHIFT_COLS, replicate_tables

                sf2_dir = f"/tmp/tegallega_bench_sf{sf}_x{n}"
                sf2_label = f"{sf}x{n}"
                replicate_tables(spark, sf_dir, sf2_dir, n)
                for t in SHIFT_COLS:  # warm the second point's file indexes
                    load_table(spark, sf2_dir, t).limit(1).collect()
            if sf2_dir:
                t2, s2 = time_headline(sf2_dir, "secondary")
                secondary = {
                    "sf": sf2_label,
                    "value": round(sum(t2.values()), 3),
                    "queries": t2,
                    "spread": s2,
                }
            break
        except Exception as e:  # primary number must survive a broken 2nd point
            first_line = str(e).strip().splitlines()[0][:200] if str(e).strip() else repr(e)[:200]
            print(
                f"# secondary scale point attempt {attempt + 1} failed: {first_line}",
                file=sys.stderr,
            )
            secondary = None
            secondary_error = first_line

    # The driver keeps only a 2,000-char stdout TAIL, so the single JSON
    # line must be compact and LAST on stdout (r5's ~2,600-char line was
    # head-truncated and recorded as parsed:null).  Full per-query spreads
    # and the secondary scale point's per-query map go to stderr; the JSON
    # keeps the headline map plus scalar secondary summaries.
    result = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs_per_query": n_runs,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(f"# spread (max-min over {n_runs} runs): "
          + json.dumps(spreads, separators=(",", ":")), file=sys.stderr)
    # Reporting must never discard the multi-minute run it reports on
    # (r11 ADVICE: a ZeroDivisionError here used to fire before the final
    # result JSON printed).
    try:
        _report_delta_vs_prior(result, spreads, secondary,
                               cpus=spark.sparkContext.defaultParallelism)
    except Exception as exc:  # pragma: no cover - belt for unforeseen shapes
        print(f"# WARN delta reporter failed: {exc!r}", file=sys.stderr)
    if secondary is not None:
        result["secondary_sf"] = secondary["sf"]
        result["secondary_value"] = secondary["value"]
        print("# secondary " + json.dumps(secondary, separators=(",", ":")),
              file=sys.stderr)
    elif secondary_error is not None:
        # the record must show the guard FAILED, not silently omit it
        result["secondary_error"] = secondary_error
    line = json.dumps(result, separators=(",", ":"))
    if len(line) >= 1800:
        # Never discard a multi-minute run: drop lowest-value keys until the
        # line fits the driver's parse window, warning on stderr.
        print(f"# WARN bench line {len(line)} chars >= 1800; trimming",
              file=sys.stderr)
        for key in ("secondary_error", "secondary_value", "secondary_sf",
                    "runs_per_query"):
            result.pop(key, None)
            line = json.dumps(result, separators=(",", ":"))
            if len(line) < 1800:
                break
        else:
            # Last resort: round query timings coarser rather than drop them.
            result["queries"] = {k: round(v, 2) for k, v in timings.items()}
            line = json.dumps(result, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
