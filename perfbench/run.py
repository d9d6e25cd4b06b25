#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload queries_sf0.1 --seed 1 --seconds 1 --trace 0

Workloads (perfbench/README.md says why each exists):
  queries_sf0.1    the pinned headline queries over the fixed sf0.1 tables
  queries_sf0.1x4  the same over a 4x key-shifted replica (not in
                   BENCHMARK.json: one run takes 100-140 s)
  transit_feed     a seeded Overpass world through extract -> GTFS -> check

A run is one fresh process: it starts a local[nproc] session, sets up
its inputs, and times ONE cold pass, which it then checks.  A second
pass in the same session would be warm and measure something else, so
`--seconds` (kept for the common benchmark interface) never adds one.
Closed loop: one client, one query or feed at a time.

The last stdout line is one JSON object,
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when `--trace 0` and the per-layer metrics
when `--trace 1`.  Everything else goes to stderr.  Every file a run
writes stays under .bench_work/ in the directory it is started from,
and every process it starts has ended before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("queries_sf0.1", "queries_sf0.1x4", "transit_feed")
REPLICA = 4  # the 0.1x4 point: sf0.1 replicated 4x by scale_data
TRANSIT_GROUPS = 10  # two relations each, plus 4 more: 24 relations
INPUT_REPEATS = 3  # input set-up is timed this many times; median kept

E2E_UNITS = {"pass_s": "s", "executor_cpu_s": "s",
             "peak_exec_memory_mb": "MB", "setup_s": "s"}
# conf keys that name this run's ports, paths or times, not the set-up
_RUN_SPECIFIC_CONF = ("JavaOptions", "host", "port", "Time", "app.id",
                      "dir", "pyFiles", "ivy")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the spark-submit launcher included, not just the driver
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _median_time(fn) -> float:
    times = []
    for _ in range(INPUT_REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _descendants(pid: int) -> list[int]:
    """Every live descendant of `pid`, read from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if fields[0] != "Z":
            parent[int(d)] = int(fields[1])
    found, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        todo += kids
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark JVM this process launched and every process under
    it (the Python worker daemon and its workers), and wait until each
    has ended.  `spark.stop()` leaves the gateway JVM running until the
    Python process exits, and the JVM then exits on its own a moment
    later -- after the run would have reported it was done."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    pids = _descendants(proc.pid)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    SparkContext._gateway = SparkContext._jvm = None
    try:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=grace_s)
    except Exception:  # noqa: BLE001 - timed out or the pipe is broken
        proc.kill()
        proc.wait()
    _wait_ended(pids, grace_s)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in filter(_alive, pids):
            try:
                os.kill(p, sig)
            except OSError:
                pass
        _wait_ended(pids, 10.0)


def _wait_ended(pids: list[int], seconds: float) -> None:
    end = time.monotonic() + seconds
    while any(map(_alive, pids)) and time.monotonic() < end:
        time.sleep(0.05)


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in BENCHMARK.json order.  A traced
    run prints all of them; a layer its workload never enters reads 0."""
    from perfbench.pin import HEADLINE

    names = ["session.start_s", "trace.pass_s",
             "queries.plan_s", "queries.plan_jobs", "queries.exec_s",
             "spark.jobs", "spark.stages", "spark.tasks",
             "spark.executor_run_s", "spark.executor_wait_s",
             "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
             "spark.exec_memory_sum_mb",
             "sources.overpass.fetch_s", "sources.overpass.ingest_s",
             "pipeline.extract.plan_s", "pipeline.gtfs_build.plan_s"]
    for prefix, first in (("pipeline.extract", "write_s"),
                          ("sources.gtfs", "write_s"),
                          ("pipeline.feed_check", "s")):
        names += [f"{prefix}.{k}" for k in
                  (first, "jobs", "stages", "tasks", "cpu_s", "wait_s")]
    names += ["sources.gtfs.bytes_written", "sources.geojson.files_written"]
    for q in HEADLINE:
        names += [f"{q}.plan_s", f"{q}.exec_s", f"{q}.jobs"]
    return names


def per_layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_written"):
        return "bytes"
    return "count"


class QuerySweep:
    """All pinned queries in their pinned order; checked against DuckDB.

    The fixed tables cannot be re-seeded, and the order is not seeded
    either: in a cold pass the first queries pay the session's
    first-use costs, so a seeded order moved seconds between queries
    (q37 took 3.3 s fifth and 1.0 s seventeenth) and made `pass_s`
    depend on the seed."""

    def __init__(self, name: str, seed: int, work: str, scale: str = "sf0.1") -> None:
        from perfbench.pin import HEADLINE

        self.name, self.work, self.scale = name, work, scale
        self.order = list(HEADLINE)
        self.results: dict = {}

    @property
    def attempted(self) -> int:
        return len(self.order)

    def setup(self, spark) -> float:
        from perfbench import sweep

        base = os.path.join(ROOT, "perfbench", "data", self.scale)
        bad: list[str] = []
        input_s = _median_time(
            lambda: bad.extend(sweep.verify_tables(base, self.scale)))
        if bad:
            raise RuntimeError(f"pinned tables differ: {sorted(set(bad))}")
        self.sf_dir = base
        if self.name == "queries_sf0.1x4":
            from tegallega_spark.scale_data import replicate_tables

            self.sf_dir = os.path.join(self.work, f"{self.scale}x{REPLICA}")
            t = time.perf_counter()
            replicate_tables(spark, base, self.sf_dir, REPLICA)
            input_s += time.perf_counter() - t
            mb = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(self.sf_dir) for f in fs) / (1 << 20)
            log(f"replica {self.scale}x{REPLICA}: {mb:.1f} MB")
        return input_s

    def run_pass(self, spark, rec) -> None:
        from perfbench import sweep

        self.results = sweep.run_pass(spark, rec, self.sf_dir, self.order)

    def check(self) -> list[str]:
        from perfbench import sweep
        from perfbench.pin import EXPECTED_ROWS_SF01

        pinned = self.scale if self.sf_dir.endswith(self.scale) else None
        oracle = sweep.oracle_digests(
            self.order, self.sf_dir, pinned,
            os.path.join(os.path.dirname(self.work), "oracle-cache.json"))
        expected = EXPECTED_ROWS_SF01 if self.sf_dir.endswith("sf0.1") else {}
        return sweep.check_results(self.results, oracle, expected)

    def layers(self, rec) -> dict[str, float]:
        spans = {s.name: s for s in rec.spans}
        m: dict[str, float] = {}
        plan_s = exec_s = 0.0
        plan_jobs = 0
        for q in self.order:
            p, e = spans.get(f"{q}.plan"), spans.get(f"{q}.exec")
            pj = p.totals.jobs if p and p.totals else 0
            ej = e.totals.jobs if e and e.totals else 0
            m[f"{q}.plan_s"] = p.seconds if p else 0.0
            m[f"{q}.exec_s"] = e.seconds if e else 0.0
            m[f"{q}.jobs"] = pj + ej
            plan_s += m[f"{q}.plan_s"]
            exec_s += m[f"{q}.exec_s"]
            plan_jobs += pj
        m.update({"queries.plan_s": plan_s, "queries.plan_jobs": plan_jobs,
                  "queries.exec_s": exec_s})
        return m


class TransitFeed:
    """One feed build from a seeded world; checked against the world."""

    attempted = 1

    def __init__(self, name: str, seed: int, work: str,
                 transit_groups: int = TRANSIT_GROUPS) -> None:
        self.seed, self.groups = seed, transit_groups
        self.root = os.path.join(work, "transit")
        self.out: dict = {}

    def setup(self, spark) -> float:
        from perfbench import transit

        def make():
            shutil.rmtree(self.root, ignore_errors=True)
            self.world = transit.generate_world(self.seed, n_groups=self.groups)
            transit.write_inputs(self.world, self.root)

        input_s = _median_time(make)
        w = self.world
        log(f"world: {len(w.relation_ids)} relations, {w.expected_trips()} trips, "
            f"{w.fixed_groups()} fixed groups")
        return input_s

    def run_pass(self, spark, rec) -> None:
        from perfbench import transit

        self.out = transit.run_pass(spark, rec, self.world, self.root)

    def check(self) -> list[str]:
        from perfbench import transit

        errs, sizes = transit.check_feed(self.world, self.root, self.out)
        log(f"feed per route-direction ({sizes['route_directions']} with a shape): "
            f"{sizes['trips']:.0f} trips, {sizes['stop_times']:.0f} stop_times, "
            f"{sizes['shape_points']:.0f} shape points (reference feed: 65, 2,305, 558)")
        log("duplicate trip_ids in trips.txt (reference trip_id grammar): "
            f"{transit.predicted_duplicate_trip_ids(self.world)} predicted; "
            "feed_check stop_times_duplicate_sequence: "
            f"{self.out['counters'].get('stop_times_duplicate_sequence')}")
        return errs

    def layers(self, rec) -> dict[str, float]:
        from perfbench.trace import StageTotals, layer_metrics

        spans = {s.name: s for s in rec.spans}

        def sec(name):
            return spans[name].seconds if name in spans else 0.0

        def tot(name):
            s = spans.get(name)
            return s.totals if s and s.totals else StageTotals()

        m = {
            "sources.overpass.fetch_s": sec("sources.overpass.fetch"),
            "sources.overpass.ingest_s": sec("sources.overpass.ingest"),
            "pipeline.extract.plan_s": sec("pipeline.extract.plan"),
            "pipeline.gtfs_build.plan_s": sec("pipeline.gtfs_build.plan"),
            "sources.gtfs.bytes_written": self.out.get("feed_bytes", 0),
            "sources.geojson.files_written": self.out.get("geojson_files", 0),
        }
        m.update(layer_metrics("pipeline.extract", sec("pipeline.extract.write"),
                               tot("pipeline.extract.write"), "write_s"))
        m.update(layer_metrics("sources.gtfs", sec("sources.gtfs.write"),
                               tot("sources.gtfs.write"), "write_s"))
        m.update(layer_metrics("pipeline.feed_check", sec("pipeline.feed_check"),
                               tot("pipeline.feed_check")))
        return m


def make_workload(name: str, seed: int, work: str, **opts):
    cls = TransitFeed if name == "transit_feed" else QuerySweep
    return cls(name, seed, work, **opts)


def run(args, work: str, **workload_opts) -> dict:
    """One run: session, inputs, one timed cold pass, its check."""
    from tegallega_spark.session import get_spark

    from perfbench.trace import Recorder

    nproc = len(os.sched_getaffinity(0))
    wl = make_workload(args.workload, args.seed, work, **workload_opts)
    errors: list[str] = []
    pass_raised = False
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        conf = spark.sparkContext.getConf().getAll()
        log("env " + json.dumps({
            "workload": args.workload, "seed": args.seed, "nproc": nproc,
            "replica": REPLICA, "transit_groups": TRANSIT_GROUPS,
            "spark_conf": {k: v for k, v in sorted(conf)
                           if not any(x in k for x in _RUN_SPECIFIC_CONF)},
        }, sort_keys=True))
        input_s = wl.setup(spark)
        setup_s = session_s + input_s
        rec = Recorder(spark, traced=bool(args.trace))
        with rec.timed_pass("pass"):
            t = time.perf_counter()
            try:
                wl.run_pass(spark, rec)
            except Exception as e:  # noqa: BLE001 - a failed pass is counted
                errors.append(f"pass raised {type(e).__name__}: {str(e)[:300]}")
                pass_raised = True
            pass_s = time.perf_counter() - t
        tot = rec.pass_totals()
    finally:
        spark.stop()
    if not pass_raised:
        errors = wl.check()
    log(f"setup {setup_s:.2f}s (session {session_s:.2f}s, inputs {input_s:.2f}s, "
        f"median of {INPUT_REPEATS}); pass {pass_s:.3f}s: {tot.jobs} jobs, "
        f"{tot.stages} stages, {tot.tasks} tasks, executor cpu {tot.cpu_s:.2f}s")
    # a pass that raised checked nothing: every operation counts as failed
    failed = wl.attempted if pass_raised else min(len(errors), wl.attempted)
    for e in errors:
        log(f"FAILED {e}")
    log(f"failed_frac {failed / wl.attempted:.4f} ({failed}/{wl.attempted})")

    if not args.trace:
        values = {"pass_s": pass_s, "executor_cpu_s": tot.cpu_s,
                  "peak_exec_memory_mb": tot.exec_memory_peak_mb, "setup_s": setup_s}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    else:
        values = wl.layers(rec)
        values.update({
            "session.start_s": session_s, "trace.pass_s": pass_s,
            "spark.jobs": tot.jobs, "spark.stages": tot.stages, "spark.tasks": tot.tasks,
            "spark.executor_run_s": tot.run_s, "spark.executor_wait_s": tot.wait_s,
            "spark.shuffle_read_mb": tot.shuffle_read_mb,
            "spark.shuffle_write_mb": tot.shuffle_write_mb,
            "spark.spill_mb": tot.spill_mb,
            "spark.exec_memory_sum_mb": tot.exec_memory_sum_mb,
        })
        metrics = {n: {"value": values.get(n, 0), "unit": per_layer_unit(n)}
                   for n in per_layer_names()}
        trace_path = os.path.join(os.path.dirname(work),
                                  f"trace-{args.workload}-seed{args.seed}.jsonl")
        rec.dump(trace_path)
        log(f"spans written to {os.path.relpath(trace_path)}")
    return {"correct": not errors, "attempted": wl.attempted, "failed": failed,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still takes the `finally` below and stops its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        try:
            import tegallega_spark.session  # noqa: F401
        except ImportError as e:
            log(f"cannot import the program from {ROOT}: {e}")
            return 2
        result = run(args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
