"""The query-sweep workloads: the pinned headline queries of the registry,
each built, run, fetched and released, one after another.

A pass is all queries in an order drawn from the seed.  The output
check compares every result with DuckDB running the query's ORACLE_SQL
over the same parquet files, through the canonical value form of
tests/test_oracle_parity.py.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

from perfbench.pin import TABLE_SHA256

TABLES = sorted(TABLE_SHA256["sf0.1"])


def verify_tables(sf_dir: str, scale: str) -> list[str]:
    """Tables whose bytes differ from the pinned copy of `scale`."""
    bad = []
    for name, digest in TABLE_SHA256[scale].items():
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                bad.append(name)
    return bad


def run_pass(spark, rec, sf_dir: str, order: list[str]) -> dict:
    """The timed pass: each query built (`<q>.plan`), its result fetched
    as Arrow batches (`<q>.exec`), then its intermediates released.
    Returns name -> the Arrow result, or the error the query raised."""
    from tegallega_spark.queries import SPARK_QUERIES
    from tegallega_spark.session import release_intermediates

    out: dict = {}
    for name in order:
        df = table = None
        with rec.span(name, leaf=False):
            try:
                with rec.span(f"{name}.plan"):
                    df = SPARK_QUERIES[name](spark, sf_dir)
                with rec.span(f"{name}.exec"):
                    table = df.toArrow()
            except Exception as e:  # noqa: BLE001 - a failure is counted, not fatal
                out[name] = f"{type(e).__name__}: {str(e)[:200]}"
            finally:
                if df is not None:
                    release_intermediates(df)
                spark.catalog.clearCache()
        if table is not None:
            out[name] = table
    return out


def _arrow_rows(table) -> tuple[list[str], list[tuple]]:
    """Python rows of an Arrow result, as `collect()` would give them:
    timestamps naive in the session's UTC."""
    import pyarrow as pa

    cols = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        cols.append(col.to_pylist())
    return table.column_names, list(zip(*cols))


def _digest(columns, rows) -> tuple[list[str], int, str]:
    """(sorted column names, row count, sha256 of the canonical rows):
    the canonical value hash of tests/test_oracle_parity.py."""
    from tests.test_oracle_parity import _canon

    cols, body = _canon(list(columns), rows)
    h = hashlib.sha256()
    for row in body:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return cols, len(body), h.hexdigest()


def _tables_key(sf_dir: str, scale: str | None) -> str:
    """What the oracle's answer depends on besides its SQL: the table
    bytes.  Pinned tables use their pinned digests; others are hashed."""
    if scale is not None:
        return json.dumps(TABLE_SHA256[scale], sort_keys=True)
    h = hashlib.sha256()
    for t in TABLES:
        digests = []
        for f in _parquet_files(sf_dir, t):
            with open(f, "rb") as fh:
                digests.append(hashlib.sha256(fh.read()).hexdigest())
        # part-file names carry a per-write id; their bytes do not
        h.update(json.dumps([t, sorted(digests)]).encode())
    return h.hexdigest()


def _parquet_files(sf_dir: str, table: str) -> list[str]:
    """The table's parquet files: one file, or the part files of a
    directory Spark wrote."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return sorted(os.path.join(path, f) for f in os.listdir(path)
                      if f.endswith(".parquet"))
    return [path]


def oracle_digests(names, sf_dir: str, scale: str | None,
                   cache_path: str) -> dict[str, tuple | None]:
    """DuckDB's answer to each query's ORACLE_SQL, as a digest; None for
    a query without oracle SQL.

    Answers are cached in `cache_path` under a key made of the DuckDB
    version, the SQL text and the table bytes, so a later run in the
    same checkout reuses them; any change to those runs DuckDB again."""
    import duckdb

    from tegallega_spark.queries import ORACLE_SQL

    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    tables = _tables_key(sf_dir, scale)
    out, con = {}, None
    for name in names:
        sql = ORACLE_SQL.get(name)
        if sql is None:
            out[name] = None
            continue
        key = hashlib.sha256(
            json.dumps([duckdb.__version__, sql, tables]).encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect(config={"temp_directory": tempfile.gettempdir()})
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet({_parquet_files(sf_dir, t)!r})")
            rel = con.sql(sql)
            cols, n, digest = _digest([c.lower() for c in rel.columns], rel.fetchall())
            cache[key] = [cols, n, digest]
        out[name] = tuple(cache[key])
    if con is not None:
        con.close()
        tmp = f"{cache_path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out


def check_results(results: dict, oracle: dict,
                  expected_rows: dict[str, int]) -> list[str]:
    """Failed checks, as messages.  A query with oracle SQL must match
    DuckDB value for value; one without must match its pinned row
    count."""
    errors = []
    for name in oracle:
        got = results.get(name)
        if got is None or isinstance(got, str):
            errors.append(f"{name}: raised {got}" if got else f"{name}: no result")
            continue
        cols, n, digest = _digest(*_arrow_rows(got))
        want = oracle[name]
        if want is None:
            if n != expected_rows.get(name):
                errors.append(f"{name}: {n} rows, pinned {expected_rows.get(name)}")
        elif cols != want[0]:
            errors.append(f"{name}: columns {cols} vs oracle {want[0]}")
        elif (n, digest) != (want[1], want[2]):
            errors.append(f"{name}: {n} rows differ from the oracle's {want[1]}")
    return errors
