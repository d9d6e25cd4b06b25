"""The `transit_feed` workload: a seeded synthetic Overpass world run
through the paper's pipeline, from fetched relations to a validated GTFS
feed.

World shape (all drawn from the seed):
- an angkot agency whose fixed groups `K1`, `K2`, ... each hold one
  relation per direction.  Direction 1 lists direction 0's ways in
  reverse order and reuses its stop nodes, so the first-wins stop dedup
  in `build_gtfs` has real work to do;
- one non-fixed angkot group, extracted but kept out of the feed;
- a train agency whose relations are scheduled by two-header CSVs,
  which drives `read_schedule_long` and the train branch.

Each route-direction has the reference feed's per-route size (8,172
trips, 70,332 shape points and 290,414 stop_times over 126
route-directions, SURVEY.md section 6): 40-90 trips (mean 65), a
420-700 vertex polyline (mean 560) and ~7 km of street, which the
extract's real-plus-virtual stop synthesis turns into ~35 stops.  The
benchmark scales the world by its number of groups, not by the size of
a route.

Group ids are spelled the way routes.json spells them, unpadded.  The
bus trip_id grammar `t-{agency}{group}{direction}{num}` has no
separators, so ids collide (`K1`,0,11 and `K10`,1,1 both give
`t-AKK1011`); `predicted_duplicate_trip_ids` counts those collisions from
the world alone, and the output check compares the feed against it.
"""

from __future__ import annotations

import csv
import json
import math
import os
import random
import re
from dataclasses import dataclass, field

ANGKOT_AGENCY = "AK"
TRAIN_AGENCY = "KCI"
M_PER_DEG = 111_000.0
STOP_ROLES = ("stop", "stop_entry_only", "stop_exit_only")

# per route-direction, from the reference feed (module docstring)
BUS_TRIPS = (40, 90)
LINE_VERTICES = (420, 700)
STEP_M = (10.0, 16.0)  # vertex spacing: ~7 km per line
STOP_EVERY = (25, 45)  # vertices between mapped stops: ~450 m
WAY_VERTICES = (4, 12)  # OSM splits ways at junctions
N_TRAIN_GROUPS = 1


@dataclass
class Route:
    """One route-direction of routes.json and the relation behind it."""

    agency: str
    group: str
    direction: int
    relation_id: str
    mode: str
    fixed: bool
    trips: int = 0  # bus trips; train trips come from the schedule


@dataclass
class World:
    routes: list[Route]
    routes_doc: dict
    schedules: dict[str, list[list[str]]]  # file name -> CSV rows
    responses: dict[str, str] = field(repr=False)  # query -> JSON text
    way_json: dict[int, str] = field(repr=False)
    node_json: dict[int, str] = field(repr=False)

    @property
    def relation_ids(self) -> list[str]:
        return [r.relation_id for r in self.routes]

    @property
    def train_relation_ids(self) -> list[str]:
        return [r.relation_id for r in self.routes if r.mode == "train"]

    def train_trip_rows(self) -> list[tuple[str, int, str, str]]:
        """(group, direction, relation_id, trip_num) per schedule data row."""
        by_rel = {r.relation_id: r for r in self.routes}
        out = []
        for fname, rows in self.schedules.items():
            direction = int(fname.rsplit("_", 1)[1].split(".")[0])
            for row in rows[2:]:
                r = by_rel[row[0]]
                out.append((r.group, direction, row[0], row[1]))
        return out

    def expected_trips(self) -> int:
        bus = sum(r.trips for r in self.routes if r.fixed and r.mode != "train")
        return bus + len(self.train_trip_rows())

    def fixed_groups(self) -> int:
        return len({(r.agency, r.group) for r in self.routes if r.fixed})


# ---------------------------------------------------------------------------
# Generation
# ---------------------------------------------------------------------------

def _walk(rng: random.Random, lon: float, lat: float, n: int,
          step_m: tuple[float, float], turn: float) -> list[tuple[float, float]]:
    """A street-like polyline: n vertices, a random step each, a slowly
    drifting heading."""
    heading = rng.uniform(0, 2 * math.pi)
    pts = [(round(lon, 7), round(lat, 7))]
    for _ in range(n - 1):
        heading += rng.gauss(0, turn)
        d = rng.uniform(*step_m) / M_PER_DEG
        lon += d * math.cos(heading) / math.cos(math.radians(lat))
        lat += d * math.sin(heading)
        pts.append((round(lon, 7), round(lat, 7)))
    return pts


class _Ids:
    def __init__(self, base: int) -> None:
        self.next = base

    def take(self) -> int:
        self.next += 1
        return self.next


def _line(rng, way_ids, node_ids, n_vertices, way_len, step_m, stop_every,
          name_prefix):
    """Ways and stop nodes along one polyline, ready to be listed by two
    relations (one per direction)."""
    lon = rng.uniform(107.55, 107.70)
    lat = rng.uniform(-6.98, -6.85)
    pts = _walk(rng, lon, lat, n_vertices, step_m, 0.12)
    ways = []
    i = 0
    while i < len(pts) - 1:
        seg = pts[i:i + rng.randint(*way_len) + 1]
        i += len(seg) - 1
        geom = [{"lon": x, "lat": y} for x, y in seg]
        if ways and rng.random() < 0.3:
            geom = geom[::-1]  # the stitch must flip it back
        wid = way_ids.take()
        tags = {"name": f"Jalan {name_prefix}{len(ways) + 1}"} if rng.random() < 0.8 else {}
        ways.append({"type": "way", "id": wid, "tags": tags, "geometry": geom})
    stops = []
    v = rng.randint(0, 2)
    while v < len(pts):
        x, y = pts[v]
        nid = node_ids.take()
        tags = {"name": f"Halte {name_prefix}{len(stops) + 1}"} if rng.random() < 0.9 else {}
        stops.append({
            "type": "node", "id": nid, "tags": tags,
            # a few metres off the centre line, as mapped stops are
            "lon": round(x + rng.gauss(0, 2e-5), 7),
            "lat": round(y + rng.gauss(0, 2e-5), 7),
        })
        v += rng.randint(*stop_every)
    return ways, stops


def _relation(rid: int, ways: list[dict], stops: list[dict],
              rng: random.Random, reverse: bool) -> dict:
    ways = ways[::-1] if reverse else ways
    stops = stops[::-1] if reverse else stops
    members = [{"type": "way", "ref": w["id"], "role": ""} for w in ways]
    members += [
        {"type": "node", "ref": s["id"], "role": rng.choice(STOP_ROLES)}
        for s in stops
    ]
    # a platform member, which the stop-role filter must drop
    members.append({"type": "node", "ref": stops[0]["id"], "role": "platform"})
    return {"type": "relation", "id": rid, "members": members}


def _hhmm(minutes: int) -> str:
    return f"{minutes // 60:02d}:{minutes % 60:02d}"


def _pool(rng: random.Random, lo: int, hi: int, n: int) -> list[int]:
    """n sizes spread evenly over [lo, hi], in a seeded order: the seed
    moves work between routes but keeps the world's total size."""
    sizes = [lo + (hi - lo) * i // max(n - 1, 1) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def generate_world(seed: int, n_groups: int) -> World:
    """The seeded world: `n_groups` two-direction angkot groups, one
    non-fixed angkot group and N_TRAIN_GROUPS two-direction train
    lines.  The same seed gives the same world, byte for byte; other
    seeds give other layouts and schedules of the same size."""
    rng = random.Random(seed)
    line_vertices = _pool(rng, *LINE_VERTICES, n_groups)
    route_trips = _pool(rng, *BUS_TRIPS, 2 * n_groups)
    rel_ids, way_ids, node_ids = _Ids(14_000_000), _Ids(400_000_000), _Ids(9_000_000_000)
    routes: list[Route] = []
    relations: dict[str, dict] = {}
    all_ways: dict[int, dict] = {}
    all_nodes: dict[int, dict] = {}

    def add_line(agency, group, mode, fixed, n_vertices, way_len, step_m,
                 stop_every, bus_trips):
        ways, stops = _line(rng, way_ids, node_ids, n_vertices, way_len,
                            step_m, stop_every, group)
        all_ways.update((w["id"], w) for w in ways)
        all_nodes.update((s["id"], s) for s in stops)
        out = []
        for direction in (0, 1):
            rid = rel_ids.take() * 7
            relations[str(rid)] = _relation(rid, ways, stops, rng, direction == 1)
            out.append(Route(agency, group, direction, str(rid), mode, fixed,
                             bus_trips[direction]))
        routes.extend(out)
        return out, stops

    angkot_groups = []
    for g in range(1, n_groups + 1):
        group = f"K{g}"
        rts, _ = add_line(ANGKOT_AGENCY, group, "angkot", True,
                          line_vertices.pop(), WAY_VERTICES, STEP_M, STOP_EVERY,
                          (route_trips.pop(), route_trips.pop()))
        angkot_groups.append((group, rts))
    # mid-size and outside the pools, so that the fixed groups, which
    # make the feed, have the same total size for every seed
    flex, _ = add_line(ANGKOT_AGENCY, "KX", "angkot", False,
                       sum(LINE_VERTICES) // 2, WAY_VERTICES, STEP_M, STOP_EVERY,
                       (sum(BUS_TRIPS) // 2,) * 2)

    train_groups = []
    for g in range(1, N_TRAIN_GROUPS + 1):
        group = f"L{g}"
        rts, stations = add_line(TRAIN_AGENCY, group, "train", True,
                                 50, (6, 10), (300.0, 600.0), (4, 7), (0, 0))
        train_groups.append((group, rts, stations))

    def route_doc(r: Route, name: str) -> dict:
        d = {"name": name, "directionId": r.direction, "relationId": r.relation_id}
        if r.mode != "train":
            first = rng.randint(5 * 60, 6 * 60)
            d.update(first_departure=_hhmm(first),
                     last_departure=_hhmm(first + rng.randint(13 * 60, 16 * 60)),
                     trips=str(r.trips))
        return d

    def color() -> str:
        c = f"{rng.randrange(1 << 24):06X}"
        return "#" + c if rng.random() < 0.5 else c

    angkot_doc = [
        {"groupId": group, "name": f"Trayek {group}", "color": color(),
         "type": "fixed", "loop": "yes" if rng.random() < 0.2 else "no",
         "routes": [route_doc(r, f"{group} arah {r.direction}") for r in rts]}
        for group, rts in angkot_groups
    ]
    angkot_doc.append(
        {"groupId": "KX", "name": "Trayek KX", "color": color(), "type": "flexible",
         "routes": [route_doc(r, f"KX arah {r.direction}") for r in flex]})
    train_doc = [
        {"groupId": group, "name": f"Commuter {group}", "color": color(),
         "type": "fixed",
         "routes": [route_doc(r, f"{group} arah {r.direction}") for r in rts]}
        for group, rts, _ in train_groups
    ]
    routes_doc = {"categories": [
        {"name": "Angkot", "agencyId": ANGKOT_AGENCY, "mode": "angkot",
         "agencyUrl": "https://angkot.example", "agencyTimezone": "Asia/Jakarta",
         "agencyLang": "id", "routeGroups": angkot_doc},
        {"name": "Commuter Line", "agencyId": TRAIN_AGENCY, "mode": "train",
         "agencyUrl": "https://kci.example", "agencyTimezone": "Asia/Jakarta",
         "agencyLang": "id", "routeGroups": train_doc},
    ]}

    schedules = {}
    for direction in (0, 1):
        # one file per (agency, direction); its header lists every line's
        # stations as (arrival, departure) column pairs
        header_ids, header_ad, cols = ["", ""], ["", ""], {}
        for group, rts, stations in train_groups:
            seq = stations[::-1] if direction else stations
            cols[group] = len(header_ids)
            for s in seq:
                header_ids += [str(s["id"]), str(s["id"])]
                header_ad += ["A", "D"]
        rows = [header_ids, header_ad]
        for gi, (group, rts, stations) in enumerate(train_groups):
            n = len(stations)
            for k in range(9):
                row = [""] * len(header_ids)
                row[0] = rts[direction].relation_id
                row[1] = str(100 * (gi + 1) + 2 * k + 1 + direction)
                t = rng.randint(4 * 60 + 30, 21 * 60) + k
                for i in range(n):
                    c = cols[group] + 2 * i
                    if 0 < i < n - 1 and rng.random() < 0.1:
                        continue  # an express skip: both times empty
                    row[c] = "" if i == 0 else _hhmm(t)
                    t += rng.randint(1, 2)
                    row[c + 1] = "" if i == n - 1 else _hhmm(t)
                    t += rng.randint(3, 6)
                rows.append(row)
        schedules[f"{TRAIN_AGENCY}_{direction}.csv"] = rows

    responses = {
        f"[out:json];relation({rid});out body;": json.dumps([rel])
        for rid, rel in relations.items()
    }
    return World(
        routes=routes, routes_doc=routes_doc, schedules=schedules,
        responses=responses,
        way_json={i: json.dumps(w) for i, w in all_ways.items()},
        node_json={i: json.dumps(n) for i, n in all_nodes.items()},
    )


def make_fetch(world: World):
    """An Overpass stand-in answering the three query shapes of
    sources.overpass from the world.  It hands back JSON text parsed on
    each call, as an HTTP body would be."""
    way_q = re.compile(r"\[out:json\];way\(id:([\d,]+)\);out geom;")
    node_q = re.compile(r"\[out:json\];node\(id:([\d,]+)\);out geom;")

    def fetch(query: str) -> list[dict]:
        if query in world.responses:
            return json.loads(world.responses[query])
        for pattern, table in ((way_q, world.way_json), (node_q, world.node_json)):
            m = pattern.fullmatch(query)
            if m:
                body = ",".join(table[int(i)] for i in m.group(1).split(","))
                return json.loads(f"[{body}]")
        raise ValueError(f"unexpected Overpass query {query!r}")

    return fetch


def write_inputs(world: World, root: str) -> None:
    """routes.json and route-data/schedule/*.csv under `root`, the layout
    `build_gtfs` reads."""
    sched = os.path.join(root, "route-data", "schedule")
    os.makedirs(sched, exist_ok=True)
    with open(os.path.join(root, "routes.json"), "w") as f:
        json.dump(world.routes_doc, f, indent=2)
    for name, rows in world.schedules.items():
        with open(os.path.join(sched, name), "w", newline="") as f:
            csv.writer(f).writerows(rows)


# ---------------------------------------------------------------------------
# The trip_id collision predictor
# ---------------------------------------------------------------------------

def predicted_trip_ids(routes: list[Route],
                       train_rows: list[tuple[str, int, str, str]]) -> list[str]:
    """Every trip_id the GTFS build should emit, by the reference grammar.

    Bus: trip numbers run on across the routes of one (group, direction)
    in document order, from 1, and the id is
    `t-{agency}{group}{direction}{num}`.  Train: one trip per schedule
    row, `t-{agency}{group}{trip_num}`."""
    ids, offset = [], {}
    for r in routes:
        if not r.fixed or r.mode == "train":
            continue
        base = offset.get((r.group, r.direction), 0)
        ids += [f"t-{r.agency}{r.group}{r.direction}{base + k + 1}"
                for k in range(r.trips)]
        offset[(r.group, r.direction)] = base + r.trips
    agency = {(r.group, r.relation_id): r.agency for r in routes}
    ids += [f"t-{agency[g, rel]}{g}{num}" for g, _d, rel, num in train_rows]
    return ids


def predicted_duplicate_trip_ids(world: World) -> int:
    """Rows of trips.txt whose trip_id an earlier row already used."""
    ids = predicted_trip_ids(world.routes, world.train_trip_rows())
    return len(ids) - len(set(ids))


# ---------------------------------------------------------------------------
# One pass: inputs -> validated feed
# ---------------------------------------------------------------------------

def run_pass(spark, rec, world: World, root: str) -> dict:
    """Fetch, extract, sink GeoJSON, build, sink and validate the feed,
    one traced span per phase.  Returns the feed-check counters and
    output sizes."""
    import pandas as pd
    import pyspark.sql.functions as F

    from tegallega_spark.operators.stateful import stitch_ways
    from tegallega_spark.pipeline.extract import angkot_stops, write_route_geojson
    from tegallega_spark.pipeline.feed_check import validate_gtfs_feed
    from tegallega_spark.pipeline.gtfs_build import build_gtfs
    from tegallega_spark.session import release_intermediates
    from tegallega_spark.sources.gtfs import write_gtfs_feed
    from tegallega_spark.sources.overpass import (
        STOP_NODE_SCHEMA,
        WAY_VERTEX_SCHEMA,
        bundle_to_rows,
        fetch_relation_bundle,
    )

    geojson_dir = os.path.join(root, "route-data", "geojson")
    feed_dir = os.path.join(root, "gtfs")
    fetch = make_fetch(world)

    with rec.span("sources.overpass.fetch"):
        way_rows, node_rows = [], []
        for rid in world.relation_ids:
            w, n = bundle_to_rows(rid, fetch_relation_bundle(rid, fetch))
            way_rows += w
            node_rows += n
    with rec.span("sources.overpass.ingest"):
        ways_df = spark.createDataFrame(
            pd.DataFrame(way_rows, columns=_names(WAY_VERTEX_SCHEMA)),
            WAY_VERTEX_SCHEMA)
        nodes_df = spark.createDataFrame(
            pd.DataFrame(node_rows, columns=_names(STOP_NODE_SCHEMA)),
            STOP_NODE_SCHEMA)
    with rec.span("pipeline.extract.plan"):
        is_train = F.col("relation_id").isin(world.train_relation_ids)
        stitched = stitch_ways(ways_df, key="relation_id").persist()
        bus_stops = angkot_stops(nodes_df.filter(~is_train), stitched, ways_df)
        # train relations keep their mapped stops, as extract_route's
        # non-angkot branch does
        train_stops = nodes_df.filter(is_train).select(
            "relation_id", "stop_id", "name", "role",
            F.lit(True).alias("is_real"), "lon", "lat",
            F.col("member_order").cast("double").alias("frac_idx"),
        )
        stops = bus_stops.unionByName(train_stops)
    with rec.span("pipeline.extract.write"):
        dirs_written = write_route_geojson(stitched, stops, geojson_dir)
    stitched.unpersist()
    release_intermediates(bus_stops)
    with rec.span("pipeline.gtfs_build.plan"):
        tables = build_gtfs(spark, root)
    with rec.span("sources.gtfs.write"):
        write_gtfs_feed(tables, feed_dir)
    spark.catalog.clearCache()
    with rec.span("pipeline.feed_check"):
        counters = validate_gtfs_feed(spark, feed_dir)
    return {
        "counters": counters,
        "dirs_written": dirs_written,
        "geojson_files": sum(len(fs) for _, _, fs in os.walk(geojson_dir)),
        "feed_bytes": sum(
            os.path.getsize(os.path.join(feed_dir, f)) for f in os.listdir(feed_dir)),
    }


def _names(schema: str) -> list[str]:
    return [c.split()[0] for c in schema.split(", ")]


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------

def check_feed(world: World, root: str, out: dict) -> tuple[list[str], dict]:
    """Failed checks of one pass's outputs, as messages (empty = pass),
    and the feed's row counts per route-direction."""
    import pandas as pd

    feed = os.path.join(root, "gtfs")
    geo = os.path.join(root, "route-data", "geojson")
    errors = []

    def expect(what, got, want):
        if got != want:
            errors.append(f"{what}: got {got}, expected {want}")

    trips = pd.read_csv(os.path.join(feed, "trips.txt"), dtype=str)
    routes = pd.read_csv(os.path.join(feed, "routes.txt"), dtype=str)
    stop_times = pd.read_csv(os.path.join(feed, "stop_times.txt"), dtype=str,
                             usecols=["trip_id", "stop_sequence"])
    shapes = pd.read_csv(os.path.join(feed, "shapes.txt"), dtype=str,
                         usecols=["shape_id"])
    n = max(shapes["shape_id"].nunique(), 1)
    sizes = {"route_directions": n, "trips": len(trips) / n,
             "stop_times": len(stop_times) / n, "shape_points": len(shapes) / n}
    expect("trips.txt rows", len(trips), world.expected_trips())
    expect("routes.txt rows", len(routes), world.fixed_groups())
    expect("GeoJSON directories", sorted(os.listdir(geo)), sorted(world.relation_ids))
    expect("GeoJSON directories reported", out["dirs_written"], len(world.relation_ids))
    dup_trips = len(trips) - trips["trip_id"].nunique()
    expect("duplicate trip_ids", dup_trips, predicted_duplicate_trip_ids(world))
    # the duplicate ids are the only source of repeated stop sequences;
    # recount them independently of feed_check
    dup_seq = int((stop_times.groupby(["trip_id", "stop_sequence"]).size() > 1).sum())
    counters = dict(out["counters"])
    expect("feed_check stop_times_duplicate_sequence",
           counters.pop("stop_times_duplicate_sequence", None), dup_seq)
    if dup_trips == 0:
        expect("repeated stop sequences without duplicate trip_ids", dup_seq, 0)
    nonzero = {k: v for k, v in counters.items() if v}
    expect("other feed_check counters", nonzero, {})
    return errors, sizes
