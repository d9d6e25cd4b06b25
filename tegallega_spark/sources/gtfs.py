"""GTFS CSV sink + reader (SURVEY K1, K3, S9).

K1: GTFS requires exact filenames (agency.txt, ...) and a pinned column
order — a single CSV per table (SURVEY §4.2).  Spark writes the table
as (possibly many) part files IN PARALLEL and the driver streams them
into the final .txt in partition order, dropping repeated headers.
Part-file concatenation order equals partition index order, which is
the same order a coalesce(1) would have merged them in, so the output
bytes are identical to a single-file write — but CSV serialization of
a 39 M-row stop_times uses every core instead of one.

A feed is seven such writes, and GTFS's one-file-per-table rule leaves
no way to fuse them into one plan.  `write_gtfs_feed` therefore submits
them as concurrent Spark jobs, one driver thread per table: each
table's query (and so its bytes) is the one a sequential write runs,
but the small tables no longer wait in line behind each other's
dispatch and file assembly.  Upstreams persisted by the build (the
route catalog, stop features, shapes) are still computed once, because
the block manager locks a cached partition while one job computes it.

K3: gtfs.zip packaging for the OTP consumer.

S9: the read-back takes each table's all-string schema from its own
header line, read on the driver, so reading a feed starts no Spark job.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil
import tempfile
import zipfile
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from tegallega_spark.schemas import GTFS_COLUMNS


def write_gtfs_table(df: DataFrame, name: str, out_dir: str) -> str:
    """Write one GTFS table as {out_dir}/{name}.txt with header and the
    contract column order."""
    cols = GTFS_COLUMNS[name]
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, f"{name}.txt")
    with tempfile.TemporaryDirectory(dir=out_dir) as tmp:
        spark_out = os.path.join(tmp, "csv")
        df.select(*cols).write.option("header", True).option(
            "emptyValue", ""
        ).mode("overwrite").csv(spark_out)
        parts = sorted(glob.glob(os.path.join(spark_out, "part-*.csv")))
        with open(final, "wb") as out:
            if not parts:
                # a 0-partition frame writes no part file at all; the
                # format still requires the header line
                out.write((",".join(cols) + "\n").encode())
            for i, p in enumerate(parts):
                with open(p, "rb") as f:
                    header = f.readline()
                    if i == 0:
                        out.write(header)
                    # 8 MiB chunks: the default 64 KiB buffer costs ~17×
                    # more syscalls on the GB-scale stop_times concat
                    shutil.copyfileobj(f, out, 8 * 1024 * 1024)
    return final


def write_gtfs_feed(tables: dict[str, DataFrame], out_dir: str) -> list[str]:
    """Write every table of `tables` as concurrent jobs (module
    docstring); returns the paths in table order.  Each thread keeps
    the caller's job group, local properties and session tags, and an
    exception from any table propagates once every write has ended."""
    if not tables:
        return []
    spark = next(iter(tables.values())).sparkSession
    write = inheritable_thread_target(spark)(write_gtfs_table)
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = [pool.submit(write, df, name, out_dir)
                   for name, df in tables.items()]
        return [f.result() for f in futures]


def make_gtfs_zip(feed_dir: str, zip_path: str) -> str:
    """Package {feed_dir}/*.txt into a flat gtfs.zip (K3 —
    direct-graphs-generation.yml:92-95)."""
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for txt in sorted(glob.glob(os.path.join(feed_dir, "*.txt"))):
            z.write(txt, os.path.basename(txt))
    return zip_path


def _header_schema(path: str) -> StructType:
    """The all-string schema Spark's CSV reader derives from the header
    line (`CSVUtils.makeSafeHeader` with case-insensitive analysis): an
    empty name becomes `_c<i>`, a name repeated in any case gets its
    index appended.  A UTF-8 byte-order mark is dropped, as Spark does."""
    with open(path, newline="", encoding="utf-8-sig") as f:
        names = next(csv.reader(f), [])
    lower = [n.lower() for n in names]
    dup = {n for n in lower if lower.count(n) > 1}
    return StructType([
        StructField(f"_c{i}" if not n else f"{n}{i}" if n.lower() in dup else n,
                    StringType())
        for i, n in enumerate(names)
    ])


def read_gtfs_table(spark: SparkSession, feed_dir: str, name: str) -> DataFrame:
    """S9: read a GTFS table back with header (schema-on-read strings —
    GTFS consumers treat every field as text).  The schema comes from
    the header line read here, not from a Spark inference job."""
    path = os.path.join(feed_dir, f"{name}.txt")
    return spark.read.option("header", True).schema(_header_schema(path)).csv(path)