"""Seeded input generator for the benchmark workloads.

Drives the repository's fixture generators (geocode_spark.fixtures) from the
benchmark seed, so the inputs keep the fixtures' hot-zone skew (SALT LAKE CITY
about 55% of zones) and failure mix (garbage streets, empty zones, no-match
house numbers, low scores, over-long poison streets). The same seed always
gives byte-identical files.

Layout under the output directory:

  address_points.parquet, road_centerlines.parquet, pobox_points.parquet
      locator tables, one file each (the engine broadcasts them)
  addresses.parquet, pages.parquet
      single-file copies of the probe tables, read by the DuckDB oracle
  addresses_parts/, pages_parts/
      the probe tables split over several files: scan parallelism comes
      from the file count, as it does for a production table
  stream/, stream_warm/
      pages_stream only: one small file per micro-batch, and a two-file
      source for the untimed warm-up drain

The runner calls it in a child process, so that generating the inputs does
not raise the measured driver's peak memory:

    python3 -m perfbench.inputs --seed N --workload W --out DIR [--size S]

prints {table: {rows, files, bytes}} as JSON.
"""

from __future__ import annotations

import argparse
import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from geocode_spark import fixtures


@dataclass(frozen=True)
class Size:
    """Row counts of one workload's generated inputs."""

    addresses: int
    pages: int = 0
    files: int = 8  # probe-table files (scan partitions)
    stream_files: int = 0  # pages_stream: micro-batches per drain


# On 4 cores one operation of the full sizes takes 2-10 s (a micro-batch
# 0.7-2 s; a spatial mix, a drain or a geocode job 2-10 s, depending on how
# busy the host is): long enough to dwarf timer noise, short enough that a
# sweep of some seventy cold runs over the three benchmarked workloads fits
# in under an hour.
SIZES = {
    "full": {
        "addresses_job": Size(addresses=6_000),
        "pages_scan": Size(addresses=2_000, pages=20_000),
        "pages_stream": Size(addresses=2_000, pages=1_000, stream_files=4),
        "spatial_joins": Size(addresses=5_000),
    },
    "tiny": {
        "addresses_job": Size(addresses=600, files=2),
        "pages_scan": Size(addresses=400, pages=1_000, files=2),
        "pages_stream": Size(addresses=400, pages=600, files=2, stream_files=3),
        "spatial_joins": Size(addresses=600, files=2),
    },
}


def _sf_for(rows: int, per_sf: int) -> float:
    # the fixture generators size their tables as int(per_sf * sf)
    return (rows + 0.5) / per_sf


def _write(df: pd.DataFrame, path: Path) -> None:
    # 4096-row groups as in the repository fixtures; Spark rejects
    # TIMESTAMP(NANOS), so timestamps are written in microseconds
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), path,
        row_group_size=4096, coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


def _write_parts(df: pd.DataFrame, out: Path, n: int) -> None:
    out.mkdir()
    for i, part in enumerate(np.array_split(np.arange(len(df)), n)):
        _write(df.iloc[part], out / f"part-{i:05d}.parquet")


def _table_stats(path: Path, rows: int) -> dict:
    files = [path] if path.is_file() else sorted(path.glob("*.parquet"))
    return {"rows": rows, "files": len(files),
            "bytes": sum(f.stat().st_size for f in files)}


def generate(seed: int, workload: str, out: Path, size: str = "full") -> dict:
    """Write one workload's inputs under `out` (created, must not exist).

    Returns {table: {rows, files, bytes}} for the tables the workload reads.
    """
    sz = SIZES[size][workload]
    out.mkdir(parents=True)
    ap, rc, pb, _ = fixtures._gen_locators(np.random.default_rng([seed, 0]))
    addr = fixtures._gen_addresses(
        np.random.default_rng([seed, 1]), _sf_for(sz.addresses, 200_000),
        ap, rc, pb,
    )
    stats = {}
    for name, df in (("address_points", ap), ("road_centerlines", rc),
                     ("pobox_points", pb), ("addresses", addr)):
        _write(df, out / f"{name}.parquet")
        stats[name] = _table_stats(out / f"{name}.parquet", len(df))
    if workload in ("addresses_job", "spatial_joins"):
        _write_parts(addr, out / "addresses_parts", sz.files)
        stats["addresses_parts"] = _table_stats(out / "addresses_parts", len(addr))
        return stats
    pages = fixtures._gen_pages(
        np.random.default_rng([seed, 2]), _sf_for(sz.pages, 2_000_000), addr
    )
    _write(pages, out / "pages.parquet")
    stats["pages"] = _table_stats(out / "pages.parquet", len(pages))
    if workload == "pages_scan":
        _write_parts(pages, out / "pages_parts", sz.files)
        stats["pages_parts"] = _table_stats(out / "pages_parts", len(pages))
    else:
        _write_parts(pages, out / "stream", sz.stream_files)
        stats["stream"] = _table_stats(out / "stream", len(pages))
        warm = pages.iloc[: max(2, len(pages) // sz.stream_files) * 2]
        _write_parts(warm, out / "stream_warm", 2)
        stats["stream_warm"] = _table_stats(out / "stream_warm", len(warm))
    return stats


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", required=True, choices=tuple(SIZES["full"]))
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.workload, a.out, a.size)))
