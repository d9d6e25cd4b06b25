"""Routing-graph operators (SURVEY §2.12 Q1-Q4).

Reference: index.html:95-190 — browser JS builds a stop graph (nodes =
stops, edges = consecutive stop pairs per route, haversine weight) and runs
Dijkstra with route labels + path reconstruction.

Spark shape:
- graph construction is DataFrames end-to-end: edges via lag over
  Window.partitionBy(trip).orderBy(stop_sequence) + haversine weight
  (Q1, index.html:116-141);
- nearest-node lookup is a broadcast argmin (Q3, index.html:145-150);
- weighted shortest path (Q4): two tiers, mirroring SURVEY §7 hard part 4 —
  * `dijkstra_local`: collect the (tiny, ≤ a few thousand stops) transit
    graph to the driver and run a heap Dijkstra — the honest idiomatic
    choice at this graph size (scipy isn't in the container; a binary-heap
    implementation is ~30 lines);
  * `shortest_paths_distributed`: Bellman-Ford-style iterative DataFrame
    relaxation with early termination — one shuffle per iteration, scales
    to graphs that don't fit a driver, converges in ≤ diameter iterations.
"""

from __future__ import annotations

import heapq
from collections import defaultdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from tegallega_spark.functions.geo import haversine_km

# Edge count below which an iterative graph loop runs on the static
# small-input execution profile (AQE off, narrow shuffle) — see
# session.aqe_off_for_small_input.  4M edges × ~24 B/row ≈ 100 MB per
# round shuffle, still firmly in the regime where per-stage scheduling
# latency (~100 ms × rounds × stages) dwarfs the work; above it AQE's
# runtime coalescing/skew handling is worth its latency.
SMALL_GRAPH_EDGES = 1 << 22


# ---------------------------------------------------------------------------
# Q1: graph construction
# ---------------------------------------------------------------------------

def build_edges(
    stop_times: DataFrame,
    stops: DataFrame,
    trips: DataFrame,
) -> DataFrame:
    """Edges = consecutive stop pairs per trip, weight = haversine km,
    labeled with route_id (index.html:116-141).  Parallel edges from many
    trips collapse to the minimum-weight edge per (src, dst, route_id)."""
    st = stop_times.select("trip_id", "stop_id", "stop_sequence").join(
        trips.select("trip_id", "route_id"), "trip_id"
    )
    pos = stops.select(
        "stop_id",
        F.col("stop_lat").cast("double").alias("lat"),
        F.col("stop_lon").cast("double").alias("lon"),
    )
    st = st.join(pos, "stop_id")
    w = Window.partitionBy("trip_id").orderBy(F.col("stop_sequence").cast("int"))
    paired = (
        st.withColumn("dst", F.lead("stop_id").over(w))
        .withColumn("dlat", F.lead("lat").over(w))
        .withColumn("dlon", F.lead("lon").over(w))
        .filter(F.col("dst").isNotNull())
    )
    weighted = paired.select(
        F.col("stop_id").alias("src"),
        "dst",
        "route_id",
        haversine_km(F.col("lon"), F.col("lat"), F.col("dlon"), F.col("dlat")).alias(
            "weight_km"
        ),
    )
    return weighted.groupBy("src", "dst", "route_id").agg(
        F.min("weight_km").alias("weight_km")
    )


def build_vertices(stops: DataFrame) -> DataFrame:
    return stops.select(
        F.col("stop_id").alias("id"),
        F.col("stop_name").alias("name"),
        F.col("stop_lat").cast("double").alias("lat"),
        F.col("stop_lon").cast("double").alias("lon"),
    )


# ---------------------------------------------------------------------------
# Q3: nearest vertex to an arbitrary point — broadcast argmin
# ---------------------------------------------------------------------------

def nearest_vertex(vertices: DataFrame, lon: float, lat: float) -> str:
    row = (
        vertices.select(
            "id",
            haversine_km(F.col("lon"), F.col("lat"), F.lit(lon), F.lit(lat)).alias("d"),
        )
        .orderBy("d", "id")
        .first()
    )
    return row["id"] if row else None


# ---------------------------------------------------------------------------
# Q4a: driver-side Dijkstra (graph ≤ a few thousand nodes)
# ---------------------------------------------------------------------------

def dijkstra_local(
    edges: DataFrame, src: str, dst: str
) -> tuple[float, list[str], list[str]]:
    """Weighted shortest path with route labels + path reconstruction
    (index.html:152-190).  Returns (total_km, [stop path], [route per hop]);
    (inf, [], []) when unreachable."""
    adj: dict[str, list[tuple[str, float, str]]] = defaultdict(list)
    for r in edges.select("src", "dst", "weight_km", "route_id").collect():
        adj[r["src"]].append((r["dst"], float(r["weight_km"]), r["route_id"]))

    dist: dict[str, float] = {src: 0.0}
    prev: dict[str, tuple[str, str]] = {}
    heap: list[tuple[float, str]] = [(0.0, src)]
    seen: set[str] = set()
    while heap:
        d, u = heapq.heappop(heap)
        if u in seen:
            continue
        seen.add(u)
        if u == dst:
            break
        for v, w, route in adj.get(u, ()):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                prev[v] = (u, route)
                heapq.heappush(heap, (nd, v))
    if dst not in dist:
        return float("inf"), [], []
    path, routes = [dst], []
    while path[-1] != src:
        u, route = prev[path[-1]]
        routes.append(route)
        path.append(u)
    return dist[dst], path[::-1], routes[::-1]


# ---------------------------------------------------------------------------
# Q4b: distributed shortest paths — iterative DataFrame relaxation
# ---------------------------------------------------------------------------

def shortest_paths_distributed(
    edges: DataFrame, src: str, max_iterations: int = 50,
    rounds_per_checkpoint: int = 3,
) -> DataFrame:
    """Single-source shortest distances via Bellman-Ford rounds expressed as
    join+groupBy; stops early once no distance improves.

    Each round: frontier ⋈ edges → candidate distances → min per node →
    compare with current.  At scale this is the standard
    Pregel-without-GraphFrames formulation: one shuffle per round, rounds
    ≤ graph diameter.

    `rounds_per_checkpoint` relaxation rounds run INSIDE one
    checkpoint/convergence cycle (the GraphX-Pregel checkpoint-interval
    trade): localCheckpoint per cycle truncates lineage (otherwise the
    plan doubles every round and the driver chokes on planning long
    before executors sweat), while batching rounds cuts the per-round
    fixed costs — driver plan construction, the convergence action, the
    checkpoint barrier — by the unroll factor.  Relaxation is idempotent
    past convergence (min() of an already-minimal frame), so overshooting
    inside the final cycle changes nothing but wasted work bounded by
    rounds_per_checkpoint − 1 rounds.  Keep the factor SMALL: the distance
    frame is referenced twice per round (relax join + union), so the
    UNCHECKPOINTED plan doubles per unrolled round — measured on the
    36-node bench graph, factors ≥ 4 lose to 1 on planning cost alone
    (13–23 s vs 6 s); 1–3 are within noise of each other, and 3 keeps a
    3× action/barrier reduction for the scale regime.
    """
    from tegallega_spark.session import CheckpointHandle, aqe_off_for_small_input

    e = edges.select("src", "dst", "weight_km").persist()
    # one tiny job: materializes the persisted edge set AND measures it, so
    # the small-graph execution profile below is a runtime decision, not a
    # constant tuned for local mode (the analyzed-plan size gate cannot see
    # through join-derived edge inputs — their estimate multiplies upward)
    n_edges = e.count()
    spark = edges.sparkSession
    dist = spark.createDataFrame([(src, 0.0)], "id string, dist double")
    dist_h = None
    # Round cost on a small graph is pure scheduling: each groupBy shuffle
    # under AQE is a separately planned stage job (~100 ms) doing
    # microseconds of work.  Below SMALL_GRAPH_EDGES run the rounds on the
    # static 8-partition profile (aqe_off_for_small_input); at real scale
    # the gate never fires and AQE keeps its skew/coalesce wins.
    small = n_edges < SMALL_GRAPH_EDGES
    if small:
        # One-job small-graph profile (the cc.py single-task discipline):
        # run the SAME per-round relaxation vectorized (numpy) inside one
        # executor task.  The distributed loop pays one scheduled job plus
        # a plan-construction that DOUBLES per unrolled round for every
        # checkpoint cycle; on the 36-node bench graph that is ~12 cycles
        # of pure latency around microseconds of work.  Round semantics
        # identical: each round reads the previous round's distances
        # (np.minimum.at indexes the OLD array), candidates are the same
        # dist[src]+weight doubles, and min over the same value set is
        # order-independent — distances bit-identical to the join form.
        # Early-stop uses the same strict `new < old - 1e-12` improvement
        # test (unreached = +inf reproduces the join form's null side).
        import pyspark.sql.types as T

        id_t = e.schema["src"].dataType
        schema = T.StructType(
            [T.StructField("id", id_t), T.StructField("dist", T.DoubleType())]
        )
        cap = max_iterations

        def fn(batches):
            import numpy as np
            import pandas as pd

            parts = list(batches)
            if parts:
                pdf = pd.concat(parts, ignore_index=True)
            else:
                pdf = pd.DataFrame({"src": [], "dst": [], "weight_km": []})
            n_e = len(pdf)
            ids = np.concatenate(
                [pdf["src"].to_numpy(), pdf["dst"].to_numpy(), np.array([src])]
            )
            uniq, inv = np.unique(ids, return_inverse=True)
            e_s, e_d = inv[:n_e], inv[n_e : 2 * n_e]
            s_i = inv[2 * n_e]
            w = pdf["weight_km"].to_numpy(dtype=np.float64)
            dist = np.full(len(uniq), np.inf)
            dist[s_i] = 0.0
            for _ in range(cap):
                new = dist.copy()
                np.minimum.at(new, e_d, dist[e_s] + w)
                improved = bool((new < dist - 1e-12).any())
                dist = new
                if not improved:
                    break
            mask = np.isfinite(dist)
            yield pd.DataFrame({"id": uniq[mask], "dist": dist[mask]})

        out = e.coalesce(1).mapInPandas(fn, schema).localCheckpoint(eager=False)
        out_h = CheckpointHandle(out)
        out.count()  # one job: materializes the checkpoint
        e.unpersist()
        out._tegallega_persisted = [out_h]
        return out

    unroll = max(1, int(rounds_per_checkpoint))
    with aqe_off_for_small_input(e, fires=small):
        rounds_left = max_iterations
        while rounds_left > 0:
            cur = dist
            for _ in range(min(unroll, rounds_left)):
                # NO broadcast hints inside the cycle: each BroadcastExchange
                # is its own blocking build job, serializing the unrolled
                # rounds back into per-round jobs (measured 9.5 s → 24 s on
                # the 36-node bench graph); as plain shuffle joins the whole
                # cycle pipelines as ONE job whose stages each run once.
                d_j = cur
                cur = (
                    d_j.join(e, d_j["id"] == e["src"])
                    .select(
                        F.col("dst").alias("id"),
                        (F.col("dist") + F.col("weight_km")).alias("dist"),
                    )
                    .unionByName(cur)
                    .groupBy("id")
                    .agg(F.min("dist").alias("dist"))
                )
                rounds_left -= 1
            # the convergence flag rides INSIDE the checkpointed frame, and
            # the checkpoint is LAZY: the single count() action below both
            # materializes this cycle's frame (all partitions — the filter
            # sits above the checkpoint barrier, nothing is pruned through
            # it) and answers "did any node improve" — one job per cycle
            # where the eager-checkpoint + join-back form paid two per round.
            old = dist.select("id", F.col("dist").alias("__old"))
            candidates = (
                cur.join(old, "id", "left")
                .select(
                    "id",
                    "dist",
                    (
                        F.col("__old").isNull()
                        | (F.col("dist") < F.col("__old") - 1e-12)
                    ).alias("__improved"),
                )
                .localCheckpoint(eager=False)
            )
            improved = candidates.filter("__improved").count()
            # the superseded cycle's checkpoint blocks are dead now — free
            # them instead of leaving a generation per cycle to the
            # ContextCleaner (the cc.py discipline)
            if dist_h is not None:
                dist_h.unpersist()
            dist_h = CheckpointHandle(candidates)
            dist = candidates.drop("__improved")
            if improved == 0:
                break
    e.unpersist()
    # the final round's checkpoint must outlive the return (the result
    # reads it); hand the release handle to well-behaved callers
    dist._tegallega_persisted = [dist_h] if dist_h is not None else []
    return dist
