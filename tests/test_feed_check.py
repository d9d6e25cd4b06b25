"""OTP-substitute feed validation (r10/r11 verdict: the OTP 2.7.0
`--build` smoke cannot run offline — no network, no vendored jar, and
the reference's otp-deploy/graph.obj is a 134-byte LFS pointer).  What
OTP's GTFS loader enforces first is the GTFS static spec's referential
rules; pipeline/feed_check.py counts their violations in one Spark
action.  The rule tests run on two feeds: the FULL feed our pipeline
generates from the reference's real inputs (needs the reference
checkout), and a feed generated from a small seeded transit world
(`transit_root`, needs nothing); the rest run on the generated feed.
Besides each test's own expectations, every report must equal an
independent pandas recount of the same rules — so the one aggregate
pass cannot drift from the rules it replaced.  See FIXTURES.md §OTP for
the acquisition attempt log."""

from __future__ import annotations

import os
import shutil
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tegallega_spark.pipeline.feed_check import validate_gtfs_feed  # noqa: E402
from tegallega_spark.sources.gtfs import read_gtfs_table  # noqa: E402

REF = "/root/reference"
TABLES = ("agency", "routes", "trips", "stops", "stop_times", "shapes",
          "calendar", "calendar_dates")
REQUIRED = ("agency", "stops", "routes", "trips", "stop_times")
TIME_RE = r"^\d{1,3}:[0-5]\d:[0-5]\d$"


@pytest.fixture(scope="module", params=["reference", "generated"])
def feed_dir(request, spark, tmp_path_factory):
    if request.param == "generated":
        return request.getfixturevalue("generated_feed")
    from tegallega_spark.pipeline.gtfs_build import build_gtfs
    from tegallega_spark.sources.gtfs import write_gtfs_feed

    out = str(tmp_path_factory.mktemp("feed"))
    write_gtfs_feed(build_gtfs(spark, REF), out)
    return out


@pytest.fixture(scope="module")
def generated_feed(transit_root):
    """The feed built from the seeded transit world (`transit_root`)."""
    return os.path.join(transit_root, "gtfs")


# ---------------------------------------------------------------------------
# The pandas recount
# ---------------------------------------------------------------------------

def _read(feed: str, name: str) -> pd.DataFrame | None:
    """A table as Spark's CSV reader sees it: all strings, an empty
    field is null and nothing else is."""
    path = os.path.join(feed, f"{name}.txt")
    if not os.path.exists(path):
        return None
    return pd.read_csv(path, dtype="string", keep_default_na=False,
                       na_values=[""])


def _true(mask: pd.Series) -> int:
    """Rows where a three-valued condition is TRUE (null is not)."""
    return int(mask.astype("boolean").fillna(False).sum())


def _present(s: pd.Series) -> pd.Series:
    return s.fillna("") != ""


def _dangling(fact: pd.DataFrame, col: str, *dims: pd.DataFrame) -> int:
    keys = set(pd.concat([d[col] for d in dims]).dropna())
    return int((_present(fact[col]) & ~fact[col].fillna("").isin(keys)).sum())


def _duplicates(df: pd.DataFrame, *key: str) -> int:
    return int((df.groupby(list(key), dropna=False).size() > 1).sum())


def _seconds(s: pd.Series) -> pd.Series:
    """h*3600 + m*60 + s, null when a part is missing or not an integer."""
    parts = s.str.split(":", expand=True).reindex(columns=range(3))

    def as_int(p):
        p = p.astype("string").str.strip()
        return p.where(p.str.fullmatch(r"[+-]?\d+").astype("boolean")
                       .fillna(False)).astype("Int64")

    return as_int(parts[0]) * 3600 + as_int(parts[1]) * 60 + as_int(parts[2])


def _recount(feed: str) -> dict[str, int]:
    """validate_gtfs_feed's report, recomputed rule by rule in pandas."""
    t = {n: df for n in TABLES if (df := _read(feed, n)) is not None}
    out = {f"missing_table_{n}": int(n not in t) for n in REQUIRED}
    out["missing_table_calendar"] = int(
        "calendar" not in t and "calendar_dates" not in t)
    if "stop_times" in t:
        st = t["stop_times"]
        if "trips" in t:
            out["stop_times_unknown_trip"] = _dangling(st, "trip_id", t["trips"])
        if "stops" in t:
            out["stop_times_unknown_stop"] = _dangling(st, "stop_id", t["stops"])

        def ok(s):
            return s.str.contains(TIME_RE, regex=True)

        out["stop_times_bad_time"] = _true(
            ~ok(st["arrival_time"]) | ~ok(st["departure_time"]))
        out["stop_times_departure_before_arrival"] = _true(
            _seconds(st["departure_time"]) < _seconds(st["arrival_time"]))
        out["stop_times_duplicate_sequence"] = _duplicates(
            st, "trip_id", "stop_sequence")
    if "trips" in t:
        tr = t["trips"]
        if "stop_times" in t:
            out["trips_without_stop_times"] = _dangling(tr, "trip_id", t["stop_times"])
        if "routes" in t:
            out["trips_unknown_route"] = _dangling(tr, "route_id", t["routes"])
        services = [t[n] for n in ("calendar", "calendar_dates") if n in t]
        if services:
            out["trips_unknown_service"] = _dangling(tr, "service_id", *services)
        if "shape_id" in tr.columns:
            out["trips_unknown_shape"] = (
                _dangling(tr, "shape_id", t["shapes"]) if "shapes" in t
                else int(_present(tr["shape_id"]).sum()))
    if "routes" in t and "agency" in t:
        out["routes_unknown_agency"] = _dangling(t["routes"], "agency_id", t["agency"])
    if "shapes" in t:
        out["shapes_duplicate_sequence"] = _duplicates(
            t["shapes"], "shape_id", "shape_pt_sequence")
    if "stops" in t:
        lat = pd.to_numeric(t["stops"]["stop_lat"], errors="coerce")
        lon = pd.to_numeric(t["stops"]["stop_lon"], errors="coerce")
        out["stops_bad_coordinates"] = int(
            (lat.isna() | lon.isna() | (lat.abs() > 90.0) | (lon.abs() > 180.0)).sum())
    return out


def _validate(spark, feed: str) -> dict[str, int]:
    """The report, checked against the pandas recount."""
    report = validate_gtfs_feed(spark, feed)
    assert report == _recount(feed)
    return report


# ---------------------------------------------------------------------------
# The rules
# ---------------------------------------------------------------------------

def test_generated_feed_fully_resolvable(spark, feed_dir):
    """Every referential rule an OTP-style loader enforces must count
    zero violations on the feed the pipeline generates."""
    report = _validate(spark, feed_dir)
    bad = {k: v for k, v in report.items() if v != 0}
    assert not bad, f"feed has load-blocking defects: {bad}"


def test_validator_detects_planted_defects(spark, feed_dir, tmp_path):
    """The zeros above must be falsifiable: plant one defect per rule
    family in a copy of the feed and assert each counter fires."""
    broken = str(tmp_path / "broken")
    shutil.copytree(feed_dir, broken)
    # reuse a real trip/stop for the malformed-time row so it fires ONLY
    # the time rule, not the referential ones
    with open(os.path.join(broken, "stop_times.txt")) as f:
        f.readline()
        real_trip, real_stop = f.readline().split(",")[:2]
    with open(os.path.join(broken, "stop_times.txt"), "a") as f:
        # unknown trip + unknown stop + dep < arr (both times are VALID
        # GTFS — extended hours — so bad_time must NOT fire here)
        f.write("ghost_trip,ghost_stop,1,25:00:00,24:59:59,0,0\n")
        # genuinely malformed times (minutes 99; the word 'noon'):
        # exactly one row → stop_times_bad_time == 1
        f.write(f"{real_trip},{real_stop},9999,9:99:99,noon,0,0\n")
    with open(os.path.join(broken, "trips.txt"), "a") as f:
        # unknown route/service/shape, and no stop_times rows
        f.write("ghost_route,ghost_trip2,ghost_service,X,0,ghost_shape,b1\n")
    with open(os.path.join(broken, "stops.txt"), "a") as f:
        f.write("polar_stop,Bad,91.0,200.0,0,\n")

    report = _validate(spark, broken)
    assert report["stop_times_unknown_trip"] == 1
    assert report["stop_times_unknown_stop"] == 1
    assert report["trips_unknown_route"] == 1
    assert report["trips_unknown_service"] == 1
    assert report["trips_unknown_shape"] == 1
    assert report["trips_without_stop_times"] == 1
    assert report["stop_times_bad_time"] == 1
    assert report["stop_times_departure_before_arrival"] == 1
    assert report["stops_bad_coordinates"] == 1


def test_short_times_are_counted_not_raised(spark, generated_feed, tmp_path):
    """A time with fewer than three fields ("5:30", "12") is a bad time.
    Splitting it must not index past the end of the split: under ANSI
    that throws INVALID_ARRAY_INDEX and the whole check dies."""
    broken = str(tmp_path / "short")
    shutil.copytree(generated_feed, broken)
    with open(os.path.join(broken, "stop_times.txt")) as f:
        f.readline()
        real_trip, real_stop = f.readline().split(",")[:2]
    with open(os.path.join(broken, "stop_times.txt"), "a") as f:
        f.write(f"{real_trip},{real_stop},9998,5:30,12,0,0\n")
    report = _validate(spark, broken)
    assert report["stop_times_bad_time"] == 1
    assert report["stop_times_departure_before_arrival"] == 0


def test_validator_detects_duplicate_sequences(spark, feed_dir, tmp_path):
    broken = str(tmp_path / "dup")
    shutil.copytree(feed_dir, broken)
    # duplicate an existing stop_times row (same trip_id+stop_sequence)
    # and an existing shapes row (same shape_id+shape_pt_sequence)
    for name in ("stop_times.txt", "shapes.txt"):
        p = os.path.join(broken, name)
        with open(p) as f:
            header, first = f.readline(), f.readline()
        with open(p, "a") as f:
            f.write(first)
    report = _validate(spark, broken)
    assert report["stop_times_duplicate_sequence"] == 1
    assert report["shapes_duplicate_sequence"] == 1


def test_missing_required_table_is_a_defect_not_a_crash(spark, feed_dir,
                                                        tmp_path):
    """r12 verdict #1 / ADVICE: a validator whose job is catching broken
    feeds must REPORT a missing required table, not KeyError before
    producing any counts."""
    broken = str(tmp_path / "nost")
    shutil.copytree(feed_dir, broken)
    os.remove(os.path.join(broken, "stop_times.txt"))
    report = _validate(spark, broken)
    assert report["missing_table_stop_times"] == 1
    # dependent checks are skipped, not crashed or faked as zero
    assert "stop_times_unknown_trip" not in report
    assert "stop_times_bad_time" not in report
    # independent checks still ran
    assert report["trips_unknown_route"] == 0
    assert report["stops_bad_coordinates"] == 0


def test_missing_calendar_entirely_is_a_defect(spark, feed_dir, tmp_path):
    broken = str(tmp_path / "nocal")
    shutil.copytree(feed_dir, broken)
    os.remove(os.path.join(broken, "calendar.txt"))
    report = _validate(spark, broken)
    assert report["missing_table_calendar"] == 1
    assert "trips_unknown_service" not in report


def test_calendar_dates_satisfies_service_requirement(spark, feed_dir,
                                                      tmp_path):
    """GTFS allows calendar.txt to be absent when calendar_dates.txt
    defines the services — such a feed must validate all-zeros."""
    alt = str(tmp_path / "caldates")
    shutil.copytree(feed_dir, alt)
    # re-express every service as calendar_dates entries (schema-on-read
    # only needs the service_id column to resolve references)
    with open(os.path.join(alt, "calendar.txt")) as f:
        services = [line.split(",")[0] for line in f.readlines()[1:] if line.strip()]
    os.remove(os.path.join(alt, "calendar.txt"))
    with open(os.path.join(alt, "calendar_dates.txt"), "w") as f:
        f.write("service_id,date,exception_type\n")
        for s in services:
            f.write(f"{s},20260101,1\n")
    report = _validate(spark, alt)
    assert report["missing_table_calendar"] == 0
    assert report["trips_unknown_service"] == 0


def test_optional_shapes_absent(spark, feed_dir, tmp_path):
    """shapes.txt is optional: absent+unreferenced must validate clean;
    absent-but-referenced must count every dangling shape_id."""
    # (a) shapes.txt gone but trips still reference shapes → every
    # non-empty shape_id is a dangling reference
    dangling = str(tmp_path / "dangling")
    shutil.copytree(feed_dir, dangling)
    os.remove(os.path.join(dangling, "shapes.txt"))
    with open(os.path.join(dangling, "trips.txt")) as f:
        lines = f.readlines()
    n_trips = len([ln for ln in lines[1:] if ln.strip()])
    report = _validate(spark, dangling)
    assert all(v == 0 for k, v in report.items() if k.startswith("missing_"))
    assert report["trips_unknown_shape"] == n_trips
    assert "shapes_duplicate_sequence" not in report

    # (b) shapes.txt gone AND no trip references a shape → fully valid
    clean = str(tmp_path / "clean")
    shutil.copytree(feed_dir, clean)
    os.remove(os.path.join(clean, "shapes.txt"))
    header = lines[0].rstrip("\n").split(",")
    shape_idx = header.index("shape_id")
    with open(os.path.join(clean, "trips.txt"), "w") as f:
        f.write(lines[0])
        for ln in lines[1:]:
            if not ln.strip():
                continue
            parts = ln.rstrip("\n").split(",")
            parts[shape_idx] = ""
            f.write(",".join(parts) + "\n")
    report = _validate(spark, clean)
    bad = {k: v for k, v in report.items() if v != 0}
    assert not bad, f"optional-files-omitted feed should validate: {bad}"


# ---------------------------------------------------------------------------
# The shape of the check: one action, no inference reads
# ---------------------------------------------------------------------------

def _sql_execution_ids(spark) -> set[int]:
    """Ids of the newest SQL executions in the session's status store
    (the store keeps them in id order and evicts the oldest first)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    recent = store.executionsList(max(store.executionsCount() - 100, 0), 100)
    return {recent.apply(i).executionId() for i in range(recent.size())}


def test_feed_check_is_one_action(spark, generated_feed):
    """All rules, duplicate counts and table reads together run as one
    SQL execution: no per-rule count() and no schema-inference read."""
    before = max(_sql_execution_ids(spark), default=-1)
    _ = validate_gtfs_feed(spark, generated_feed)
    new = sorted(i for i in _sql_execution_ids(spark) if i > before)
    assert len(new) == 1, f"{len(new)} SQL executions: {new}"


def test_reading_a_table_starts_no_job(spark, generated_feed):
    sc = spark.sparkContext
    group = "read_gtfs_table-starts-no-job"
    sc.setJobGroup(group, group)
    try:
        for name in TABLES:
            if os.path.exists(os.path.join(generated_feed, f"{name}.txt")):
                _ = read_gtfs_table(spark, generated_feed, name).columns
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_header_schema_matches_spark_inference(spark, generated_feed, tmp_path):
    """The header-derived schema is the one `header=True` inference
    gives: on every table of the feed, and on the header cases Spark
    renames (empty and case-insensitively repeated names, a UTF-8 BOM,
    quoted names)."""
    odd = str(tmp_path / "odd")
    os.makedirs(odd)
    for name, text in {
        "dups": "a,A,b,,a\n1,2,3,4,5\n",
        "bom": "\ufeffstop_id,stop_name\n1,x\n",
        "quoted": '"a b","c,d",e\n1,2,3\n',
        "header_only": "x,y\n",
    }.items():
        with open(os.path.join(odd, f"{name}.txt"), "w", encoding="utf-8") as f:
            f.write(text)
    cases = [(generated_feed, n) for n in TABLES
             if os.path.exists(os.path.join(generated_feed, f"{n}.txt"))]
    cases += [(odd, n[:-4]) for n in sorted(os.listdir(odd))]
    for d, name in cases:
        inferred = spark.read.option("header", True).csv(
            os.path.join(d, f"{name}.txt")).schema
        assert read_gtfs_table(spark, d, name).schema == inferred, name
