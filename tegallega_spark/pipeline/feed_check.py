"""GTFS feed referential-integrity validation — the offline stand-in for
the OTP graph-build smoke (SURVEY §5.2; reference
.github/workflows/build-graph.yml:25-27 feeds the generated gtfs.zip to
OpenTripPlanner's `--build --save`).

OTP cannot run here: the container has no network and no vendored OTP
jar (the reference's otp-deploy/graph.obj is a 134-byte LFS pointer, not
a jar or a graph).  What OTP's GTFS loader would do first, though, is
public knowledge — the GTFS static spec's referential rules, which OTP
enforces at graph-build time (unknown stop/trip/route/service references
are load errors; see also the FIXTURES.md attempt log).  This module
counts violations of those rules over the WRITTEN feed files, so the
gtfs.zip we hand an external OTP is known-loadable before it leaves the
pipeline.

Scale design: the whole check is ONE Spark action.  Each fact table
(stop_times, trips, routes, stops) is left-joined with the distinct key
set of every dimension it references, tagged with a constant flag; a
row whose non-empty key finds no flag is exactly the row a left-anti
join would keep.  All of a table's rules are then `count_if`s of one
global aggregate over that joined stream.  Each duplicate-sequence rule
is a grouped count followed by `count_if(count > 1)`.  The single-row
aggregates are cross-joined and collected once.  Dimension key sets are
small and broadcast; the fact sides stream, and nothing but the one
counter row reaches the driver.  The tables are read with header-derived
schemas, so no schema-inference job runs either.  On a 100 TB feed lake
the same plan validates each feed partition independently.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tegallega_spark.sources.gtfs import read_gtfs_table

# HH:MM:SS with hours allowed past 24 (GTFS times are service-day
# offsets; the reference emits up to 28:xx:xx — functions/timecodec.py)
_TIME_RE = r"^\d{1,3}:[0-5]\d:[0-5]\d$"


def _present(c: str) -> Column:
    """Nulls/empties are not dangling references (optional fields)."""
    return F.col(c).isNotNull() & (F.col(c) != "")


def _with_refs(fact: DataFrame, refs: dict[str, tuple[DataFrame, str]]
               ) -> tuple[DataFrame, dict[str, Column]]:
    """`fact` left-joined with the distinct key set of each referenced
    dimension (refs: check name -> (dim, column)), plus per check the
    condition "this row's non-empty key has no match" — the rows a
    left-anti join against the dimension would count."""
    dangling = {}
    for i, (name, (dim, col)) in enumerate(refs.items()):
        hit = f"__hit{i}"
        keys = dim.select(col).distinct().withColumn(hit, F.lit(True))
        fact = fact.join(keys, col, "left")
        dangling[name] = _present(col) & F.col(hit).isNull()
    return fact, dangling


def _duplicate_count(df: DataFrame, name: str, *key: str) -> DataFrame:
    """One row: the number of keys that occur more than once."""
    return df.groupBy(*key).count().agg(
        F.count_if(F.col("count") > 1).alias(name))


def _seconds(c: str) -> Column:
    # `get` and try_cast, not `[i]` and cast: a malformed time (already
    # counted by stop_times_bad_time) must NULL out of the comparison,
    # not ANSI-throw the whole validation — `[1]` of "12".split(":")
    # throws INVALID_ARRAY_INDEX under ANSI
    hms = F.split(c, ":")
    return (F.get(hms, 0).try_cast("int") * 3600
            + F.get(hms, 1).try_cast("int") * 60
            + F.get(hms, 2).try_cast("int"))


# GTFS-required tables; calendar is special-cased (calendar.txt OR
# calendar_dates.txt satisfies the service-definition requirement), and
# shapes.txt is optional (trips.shape_id may legitimately be empty).
_REQUIRED = ("agency", "stops", "routes", "trips", "stop_times")


def validate_gtfs_feed(spark: SparkSession, feed_dir: str) -> dict[str, int]:
    """Counts of load-blocking defects per referential rule; an
    all-zeros dict means an OTP-style consumer can resolve every
    reference in the feed.  Keys are stable for test pinning.

    A structurally broken feed (required table missing) is itself a
    defect REPORT, not a crash: each absent required table yields a
    `missing_table_<name>` = 1 counter, and checks whose inputs are
    absent are skipped (their keys omitted) rather than KeyError-ing.
    Valid feeds that omit OPTIONAL files — shapes.txt, or calendar.txt
    replaced by calendar_dates.txt — still validate: shape references
    are checked against an empty dimension only when trips actually
    carry non-empty shape_ids, and service references resolve against
    the union of calendar and calendar_dates."""
    t = {name: read_gtfs_table(spark, feed_dir, name)
         for name in ("agency", "routes", "trips", "stops", "stop_times",
                      "shapes", "calendar", "calendar_dates")
         if os.path.exists(os.path.join(feed_dir, f"{name}.txt"))}

    out: dict[str, int] = {
        f"missing_table_{name}": int(name not in t) for name in _REQUIRED
    }
    out["missing_table_calendar"] = int(
        "calendar" not in t and "calendar_dates" not in t
    )
    counters: list[DataFrame] = []

    def count_rules(fact: str, refs: dict[str, tuple[DataFrame, str]],
                    rules: dict[str, Column]) -> None:
        """One aggregate over table `fact` joined with its references."""
        df, dangling = _with_refs(t[fact], refs)
        rules = {**dangling, **rules}
        if rules:
            counters.append(df.agg(*[F.count_if(cond).alias(name)
                                     for name, cond in rules.items()]))

    # dangling references (OTP load errors) and field validity
    if "stop_times" in t:
        refs = {}
        if "trips" in t:
            refs["stop_times_unknown_trip"] = (t["trips"], "trip_id")
        if "stops" in t:
            refs["stop_times_unknown_stop"] = (t["stops"], "stop_id")
        count_rules("stop_times", refs, {
            "stop_times_bad_time": ~F.col("arrival_time").rlike(_TIME_RE)
            | ~F.col("departure_time").rlike(_TIME_RE),
            "stop_times_departure_before_arrival":
                _seconds("departure_time") < _seconds("arrival_time"),
        })
        # sequence integrity
        counters.append(_duplicate_count(
            t["stop_times"], "stop_times_duplicate_sequence",
            "trip_id", "stop_sequence"))
    if "trips" in t:
        refs, rules = {}, {}
        if "stop_times" in t:
            refs["trips_without_stop_times"] = (t["stop_times"], "trip_id")
        if "routes" in t:
            refs["trips_unknown_route"] = (t["routes"], "route_id")
        svc = [t[n].select("service_id")
               for n in ("calendar", "calendar_dates") if n in t]
        if svc:
            refs["trips_unknown_service"] = (
                svc[0] if len(svc) == 1 else svc[0].unionByName(svc[1]),
                "service_id")
        if "shape_id" in t["trips"].columns:
            if "shapes" in t:
                refs["trips_unknown_shape"] = (t["shapes"], "shape_id")
            else:
                # shapes.txt absent is legal ONLY while no trip references
                # a shape: every non-empty shape_id is then a dangling ref
                rules["trips_unknown_shape"] = _present("shape_id")
        count_rules("trips", refs, rules)
    if "routes" in t and "agency" in t:
        count_rules("routes",
                    {"routes_unknown_agency": (t["agency"], "agency_id")}, {})
    if "shapes" in t:
        counters.append(_duplicate_count(
            t["shapes"], "shapes_duplicate_sequence",
            "shape_id", "shape_pt_sequence"))
    if "stops" in t:
        lat = F.col("stop_lat").try_cast("double")
        lon = F.col("stop_lon").try_cast("double")
        count_rules("stops", {}, {
            "stops_bad_coordinates": lat.isNull() | lon.isNull()
            | (F.abs(lat) > 90.0) | (F.abs(lon) > 180.0),
        })

    if counters:
        row = counters[0]
        for c in counters[1:]:
            row = row.crossJoin(c)
        out.update((k, int(v)) for k, v in row.collect()[0].asDict().items())
    return out
