"""The four benchmark workloads, each a closed loop of one operation at a time.

Each workload calls the engine only through its public module functions. It
provides:

  warm_up(ctx)         the untimed part of set-up after the shared session,
                       locator and pack steps: one cold pass (spatial_joins
                       also geocodes its query points here)
  op(ctx)              one untraced timed operation -> Op
  traced_op(ctx, tr)   the same operation with a span around each layer call;
                       each layer's output is materialized at the boundary so
                       its span holds that layer's own work
  check(ctx, ops)      compares the operations' outputs with the DuckDB oracle
                       (outside the timed window); returns the count of
                       failed units and any per-layer values the check saw
  SPANS                span name -> the per-layer metric (seconds) that is
                       the median self time of the spans of that name

A traced operation's Op.layer and the check's values carry the other
per-layer metrics by their metric names. The runner fails a traced run whose
workload does not yield exactly the per-layer metrics perfbench/spec.py says
it measures.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geocode_spark import oracle
from geocode_spark.batching import read_results, run_resumable
from geocode_spark.flowcontrol import health_probe
from geocode_spark.operators import spatial
from geocode_spark.operators.geocode import (
    cleanse_input,
    geocode,
    geocode_metrics,
    geocode_parsed,
    parse_input,
)
from geocode_spark.plans.pipeline import geocode_pages
from geocode_spark.extraction import extract_and_parse
from geocode_spark.streaming.stream import read_stream_results, stream_geocode

from perfbench.check import digest, oracle_frame
from perfbench.spec import SPATIAL_OPS, STREAM_PHASES

N_BATCHES = 16  # run_resumable's default batch count
POBOX = True  # every geocode here also matches PO boxes, as the 151-query suite does


@dataclass
class Ctx:
    spark: object
    inputs: Path  # generated tables (inputs.generate)
    out: Path  # per-run output directory
    rows: dict  # table -> row count
    loc: dict = field(default_factory=dict)
    _seq: int = 0

    def fresh_dir(self, prefix: str) -> Path:
        self._seq += 1
        return self.out / f"{prefix}-{self._seq:04d}"

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(str(self.inputs / table))


@dataclass
class Op:
    """One timed operation: input rows, wall seconds, latency samples (ms),
    the unit count it attempted, what the check needs, per-layer values."""

    rows: int
    wall: float
    lat_ms: list
    units: int = 1
    out: object = None
    layer: dict = field(default_factory=dict)


def _quiet(_msg) -> None:
    pass


def _materialize(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def _noop_write(df: DataFrame) -> None:
    """Run the full plan, every column, and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------- addresses_job
class AddressesJob:
    """(id, street, zone) table -> geocode -> health probe -> resumable
    batched parquet write with its per-batch ledger: the reference job."""

    SPANS = {
        "geocode.cleanse_parse": "geocode.cleanse_parse_s",
        "geocode.match": "geocode.match_s",
        "flowcontrol.health_probe": "flowcontrol.health_probe_s",
    }

    def warm_up(self, ctx: Ctx) -> None:
        self.op(ctx)

    def _run(self, ctx: Ctx, result: DataFrame, out: Path) -> dict:
        return run_resumable(ctx.spark, result, str(out), n_batches=N_BATCHES,
                             log=_quiet)

    def op(self, ctx: Ctx) -> Op:
        out = ctx.fresh_dir("job")
        t0 = time.perf_counter()
        result = geocode(ctx.read("addresses_parts"), pobox=POBOX, **ctx.loc)
        health_probe(result)
        summary = self._run(ctx, result, out)
        wall = time.perf_counter() - t0
        return Op(ctx.rows["addresses"], wall, [wall * 1e3], out=(out, summary))

    def traced_op(self, ctx: Ctx, tr) -> Op:
        out = ctx.fresh_dir("job")
        t0 = time.perf_counter()
        with tr.span("geocode.cleanse_parse"):
            parsed = _materialize(
                parse_input(cleanse_input(ctx.read("addresses_parts"))))
        with tr.span("geocode.match"):
            result = _materialize(geocode_parsed(parsed, pobox=POBOX, **ctx.loc))
        with tr.span("flowcontrol.health_probe"):
            health_probe(result)
        with tr.span("batching.run_resumable"):
            summary = self._run(ctx, result, out)
        wall = time.perf_counter() - t0
        resumable_s = summary["seconds"]
        # every ledger record carries the seconds of the one shared write job
        ledger = json.loads((out / "_ledger" / "batch-00000.json").read_text())
        layer = {
            "batching.write_s": ledger["seconds"],
            "batching.ledger_s": resumable_s - ledger["seconds"],
            "batching.batches": summary["batches"],
            "batching.bytes_written": sum(
                f.stat().st_size for f in out.glob("batch_id=*/*.parquet")),
            "geocode.match_ratio": summary["success"] / summary["total"],
        }
        for df in (result, parsed):
            df.unpersist(blocking=True)
        return Op(ctx.rows["addresses"], wall, [wall * 1e3], out=(out, summary),
                  layer=layer)

    def check(self, ctx: Ctx, ops: list) -> tuple[int, dict]:
        want = digest(oracle_frame(oracle.geocode_oracle_sql(
            str(ctx.inputs), pobox=POBOX)))
        failed = 0
        for op in ops:
            out, summary = op.out
            got = read_results(ctx.spark, str(out)).toPandas()
            if summary["total"] != op.rows or digest(got) != want:
                failed += 1
        return failed, {}


# -------------------------------------------------------------- pages_scan
def _traced_extract_match(ctx: Ctx, tr, table: str, pages: int) -> tuple:
    """The pages pipeline split at its layer boundaries: extraction, then the
    matcher, each materialized inside its own span."""
    with tr.span("extraction.extract_and_parse"):
        parsed = _materialize(extract_and_parse(ctx.read(table)))
    with tr.span("geocode.match"):
        result = _materialize(geocode_parsed(parsed, pobox=POBOX, **ctx.loc))
    layer = {
        "extraction.addresses_per_page":
            parsed.filter(F.col("input_street").isNotNull()).count() / pages,
        "extraction.error_rows":
            parsed.filter(F.col("error").isNotNull()).count(),
    }
    return parsed, result, layer


EXTRACT_MATCH_SPANS = {
    "extraction.extract_and_parse": "extraction.extract_and_parse_s",
    "geocode.match": "geocode.match_s",
    "geocode.geocode_metrics": "geocode.geocode_metrics_s",
}


class PagesScan:
    """Web pages -> extract -> geocode -> A1-A3 metrics aggregate, read-only."""

    SPANS = EXTRACT_MATCH_SPANS

    def warm_up(self, ctx: Ctx) -> None:
        self.op(ctx)

    def op(self, ctx: Ctx) -> Op:
        t0 = time.perf_counter()
        row = geocode_metrics(
            geocode_pages(ctx.read("pages_parts"), ctx.loc, pobox=POBOX)
        ).collect()[0]
        wall = time.perf_counter() - t0
        return Op(ctx.rows["pages"], wall, [wall * 1e3], out=tuple(row))

    def traced_op(self, ctx: Ctx, tr) -> Op:
        t0 = time.perf_counter()
        parsed, result, layer = _traced_extract_match(
            ctx, tr, "pages_parts", ctx.rows["pages"])
        with tr.span("geocode.geocode_metrics"):
            row = geocode_metrics(result).collect()[0]
        wall = time.perf_counter() - t0
        layer["geocode.match_ratio"] = row["success"] / row["total"]
        for df in (result, parsed):
            df.unpersist(blocking=True)
        return Op(ctx.rows["pages"], wall, [wall * 1e3], out=tuple(row),
                  layer=layer)

    def check(self, ctx: Ctx, ops: list) -> tuple[int, dict]:
        fix = str(ctx.inputs)
        want_row = tuple(oracle_frame(oracle.metrics_oracle_sql(
            fix, pobox=POBOX, source_sql=oracle.pages_source_sql(fix)
        )).iloc[0].tolist())
        want = digest(oracle_frame(oracle.geocode_pages_oracle_sql(fix, pobox=POBOX)))
        got = digest(geocode_pages(ctx.read("pages_parts"), ctx.loc,
                                   pobox=POBOX).toPandas())
        if got != want:
            return len(ops), {}
        return sum(op.out != want_row for op in ops), {}


# ------------------------------------------------------------ pages_stream
def _epoch(ts: str) -> float:
    """Streaming progress timestamp ('2026-01-01T00:00:00.123Z') -> epoch s."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class PagesStream:
    """The pages, pre-split into one small file per micro-batch, drained by
    an availableNow stream_geocode query that writes every batch."""

    SPANS = EXTRACT_MATCH_SPANS

    def warm_up(self, ctx: Ctx) -> None:
        self.drain(ctx, "stream_warm")

    def drain(self, ctx: Ctx, source: str) -> tuple:
        out, ck = ctx.fresh_dir("stream-out"), ctx.fresh_dir("stream-ck")
        t0 = time.perf_counter()
        q = stream_geocode(ctx.spark, str(ctx.inputs / source), ctx.loc,
                           str(out), str(ck), max_files_per_trigger=1,
                           pobox=POBOX)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream_geocode failed: {q.exception()}")
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return out, wall, batches

    def op(self, ctx: Ctx) -> Op:
        out, wall, batches = self.drain(ctx, "stream")
        lat = [p["durationMs"]["triggerExecution"] for p in batches]
        return Op(ctx.rows["pages"], wall, lat, units=len(batches), out=out)

    def traced_op(self, ctx: Ctx, tr) -> Op:
        # the engine times each micro-batch phase itself; the spans are built
        # from its progress records, laid end to end inside each trigger
        offset = time.time() - time.perf_counter()
        with tr.span("streaming.stream_geocode"):
            out, wall, batches = self.drain(ctx, "stream")
        drain = tr.spans[-1].span_id
        for p in batches:
            start = _epoch(p["timestamp"]) - offset
            d = p["durationMs"]
            trig = tr.add("streaming.trigger", start,
                          start + d["triggerExecution"] / 1e3, drain)
            for phase in STREAM_PHASES:
                took = d.get(phase, 0) / 1e3
                tr.add(f"streaming.{phase}", start, start + took, trig)
                start += took
        # stream_geocode's batch function is not reachable from outside, so
        # the extraction / matcher / write split of one micro-batch comes
        # from replaying its input file through the same public calls
        first = sorted((ctx.inputs / "stream").glob("*.parquet"))[0]
        with tr.span("streaming.batch_replay"):
            parsed, result, layer = _traced_extract_match(
                ctx, tr, f"stream/{first.name}",
                pq.ParquetFile(first).metadata.num_rows)
            with tr.span("streaming.batch_write"):
                result.write.parquet(str(ctx.fresh_dir("replay")))
            with tr.span("geocode.geocode_metrics"):
                geocode_metrics(result).collect()
        for df in (result, parsed):
            df.unpersist(blocking=True)
        for phase in STREAM_PHASES:
            layer[f"streaming.{phase}_ms"] = statistics.median(
                p["durationMs"].get(phase, 0) for p in batches)
        layer["streaming.rows_per_batch"] = statistics.median(
            p["numInputRows"] for p in batches)
        lat = [p["durationMs"]["triggerExecution"] for p in batches]
        return Op(ctx.rows["pages"], wall, lat, units=len(batches), out=out,
                  layer=layer)

    def check(self, ctx: Ctx, ops: list) -> tuple[int, dict]:
        want = digest(oracle_frame(oracle.geocode_pages_oracle_sql(
            str(ctx.inputs), pobox=POBOX)))
        failed, layer = 0, {}
        for op in ops:
            got = read_stream_results(ctx.spark, str(op.out)).toPandas()
            if digest(got) != want:
                failed += op.units
            layer["geocode.match_ratio"] = got["message"].isna().mean()
        return failed, layer


# ----------------------------------------------------------- spatial_joins
class SpatialJoins:
    """A fixed mix of spatial operators over points geocoded during set-up;
    no geocode or extraction work happens while timing."""

    SPANS = {f"spatial.{name}": f"spatial.{name}_s" for name in SPATIAL_OPS}

    def warm_up(self, ctx: Ctx) -> None:
        self.points = (
            geocode(ctx.read("addresses_parts"), pobox=POBOX, **ctx.loc)
            .filter(F.col("message").isNull())
            .select("primary_key", "x", "y", "score")
            .persist()
        )
        self.n_points = self.points.count()
        self.segments = ctx.read("road_centerlines.parquet")
        self.candidates = ctx.read("address_points.parquet")
        self.op(ctx)

    def _plans(self) -> dict:
        pts = self.points
        return {
            "radius_join": lambda: spatial.radius_join(pts),
            "map_match": lambda: spatial.map_match(pts, self.segments),
            "pip_raycast": lambda: spatial.pip_raycast(
                pts, spatial.synthetic_regions(pts)),
            "knn_cell": lambda: spatial.knn_cell(pts, self.candidates, k=3),
            "tile_rollup": lambda: spatial.tile_rollup(pts),
        }

    def _mix(self, tr=None) -> Op:
        t0 = time.perf_counter()
        for name, plan in self._plans().items():
            if tr is None:
                _noop_write(plan())
            else:
                with tr.span(f"spatial.{name}"):
                    _noop_write(plan())
        wall = time.perf_counter() - t0
        return Op(self.n_points, wall, [wall * 1e3], units=len(SPATIAL_OPS))

    def op(self, ctx: Ctx) -> Op:
        return self._mix()

    def traced_op(self, ctx: Ctx, tr) -> Op:
        with tr.span("spatial.mix"):
            return self._mix(tr)

    def check(self, ctx: Ctx, ops: list) -> tuple[int, dict]:
        fix = str(ctx.inputs)
        everyone = "SELECT * FROM success"
        # The same rows (keys are never null): with a filter on the source,
        # DuckDB plans the kNN twin's 3x3-cell join as a hash join (0.05 s on
        # ~3k points, 4 cores); without one, as a nested loop (10-18 s).
        keyed = "SELECT * FROM success WHERE primary_key IS NOT NULL"
        # map matching answers each point on its own, and its twin is brute
        # force over every segment (2-5 s on all points): it is checked on
        # the ~10% of points whose key ends in 0
        sample = "SELECT * FROM success WHERE primary_key LIKE '%0'"
        oracles = {
            "radius_join": (spatial.radius_join_sql(everyone), False),
            "map_match": (spatial.map_match_sql(fix, sample), True),
            "pip_raycast": (spatial.pip_raycast_sql(
                everyone, spatial.synthetic_regions_sql(everyone)), False),
            "knn_cell": (spatial.knn_sql(fix, keyed, k=3), False),
            "tile_rollup": (spatial.tile_rollup_sql(everyone), False),
        }
        con = duckdb.connect()
        try:
            con.sql(
                "CREATE TABLE success AS SELECT primary_key, x, y, score FROM ("
                f"{oracle.geocode_oracle_sql(fix, pobox=POBOX)}"
                ") WHERE message IS NULL")
            if digest(self.points.toPandas()) != digest(con.sql(everyone).df()):
                return sum(op.units for op in ops), {}
            failed, layer = 0, {}
            for name, plan in self._plans().items():
                got = plan().toPandas()
                layer[f"spatial.{name}.rows_out"] = len(got)
                sql, sampled = oracles[name]
                if sampled:
                    got = got[got["primary_key"].str.endswith("0")]
                if digest(got) != digest(con.sql(sql).df()):
                    failed += len(ops)  # every timed call of this operator
            return failed, layer
        finally:
            con.close()


WORKLOADS = {
    "addresses_job": AddressesJob,
    "pages_scan": PagesScan,
    "pages_stream": PagesStream,
    "spatial_joins": SpatialJoins,
}
