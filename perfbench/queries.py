"""The query half of the ``lake`` workload: eight of the Athena-style
queries of ``plans/flight_analytics.py`` over a seeded, partitioned
processed lake, in a seeded shuffled order per pass.

The eight cover every kind of plan the surface has: lookback partition
pruning (q1, q2, q3, q6, q7, q8), distinct and ``percentile_approx``
aggregates (q2, ``hourly_flight_summary``), a broadcast cross join (q6), a
broadcast equi join (q7), a broadcast theta join (q8), a full scan
(``hourly_flight_summary``) and the raw JSON batches
(``latest_flight_activity``). The other eight repeat these plans; running
them too would not fit the run-time budget of the benchmark."""

from __future__ import annotations

import random

import pyarrow.parquet as pq

import gen
import twins
from harness import Bench, Measured
from spans import EventLog

# name -> (tables read, builder(tables, now) -> DataFrame)
QUERIES = {
    "q1_flight_status_overview": (("processed",), lambda fa, t, now: fa.q1_flight_status_overview(t["processed"], now)),
    "q2_altitude_band_distribution": (("processed",), lambda fa, t, now: fa.q2_altitude_band_distribution(t["processed"], now)),
    "q3_quality_metrics_hourly": (("quality",), lambda fa, t, now: fa.q3_quality_metrics_hourly(t["quality"], now)),
    "q6_anomaly_zscore": (("processed",), lambda fa, t, now: fa.q6_anomaly_zscore(t["processed"], now)),
    "q7_aircraft_performance": (("processed", "aircraft"), lambda fa, t, now: fa.q7_aircraft_performance(t["processed"], t["aircraft"], now)),
    "q8_airport_proximity": (("processed", "airports"), lambda fa, t, now: fa.q8_airport_proximity(t["processed"], t["airports"], now)),
    "hourly_flight_summary": (("processed",), lambda fa, t, now: fa.hourly_flight_summary(t["processed"])),
    "latest_flight_activity": (("raw",), lambda fa, t, now: fa.latest_flight_activity(t["raw"])),
}


class LakeQueries:
    days = 7
    rows_per_hour = 60

    def setup(self, b: Bench, d: str) -> None:
        from aws_flight_data_pipeline_spark.sources.opensky import read_raw_batches

        self.world = gen.make_world(b.seed)
        self.files = gen.write_lake(self.world, d, self.days, self.rows_per_hour)
        f, spark = self.files, b.spark
        # registering the tables (partition discovery) is part of set-up
        self.tables = {
            "processed": spark.read.parquet(f.lake),
            "quality": spark.read.parquet(f.quality),
            "aircraft": spark.read.parquet(f.aircraft),
            "airports": spark.read.parquet(f.airports),
            "raw": read_raw_batches(spark, f.raw),
        }
        self.table_rows = {
            "processed": f.lake_files * self.rows_per_hour, "quality": f.quality_files,
            "aircraft": pq.ParquetFile(f.aircraft).metadata.num_rows, "airports": len(gen.AIRPORTS), "raw": 12,
        }
        self.table_files = {"processed": f.lake_files, "quality": f.quality_files, "aircraft": 1, "airports": 1, "raw": 12}
        self.rng = random.Random(b.seed)
        self.results: dict[str, list] = {}

    def _query(self, b: Bench, name: str) -> None:
        from aws_flight_data_pipeline_spark.plans import flight_analytics as fa

        t = b.tracer
        with t.span("op:query", query=name):
            with t.span(f"analytics.build:{name}"):
                df = QUERIES[name][1](fa, self.tables, self.world.now)
            if t.enabled:
                with t.span(f"analytics.plan:{name}"):
                    df._jdf.queryExecution().executedPlan()
            with t.span(f"analytics.exec:{name}"):
                table = df.toArrow()
        self.results.setdefault(name, []).append(table)

    def order(self) -> list[str]:
        """The next pass's seeded shuffled query order."""
        order = sorted(QUERIES)
        self.rng.shuffle(order)
        return order

    def one(self, b: Bench, m: Measured, name: str) -> None:
        rows = sum(self.table_rows[tb] for tb in QUERIES[name][0])
        m.extra.setdefault("queries", []).append(name)
        b.attempt(m, "query", lambda: self._query(b, name), rows=rows)

    def warmup(self, b: Bench) -> None:
        for name in self.order():
            self._query(b, name)
        self.results = {}

    def check(self, b: Bench, m: Measured) -> list[str]:
        """Every pass returns the same rows; each result matches its DuckDB
        twin."""
        errors = []
        for name, tables in self.results.items():
            first = tables[0].to_pylist()
            for tb in tables[1:]:
                diff = twins.compare(tb.to_pylist(), first, tables[0].column_names, ordered=False)
                if diff:
                    errors.append(f"{name}: passes differ, {diff}")
                    break
        errors += twins.check(self.files, self.world.now, {n: tb[0] for n, tb in self.results.items()})
        self.results = {}
        return errors

    def layers(self, b: Bench, m: Measured, log: EventLog) -> dict:
        t = b.tracer
        ops = [s for s in t.named("op:query") if s.start >= m.window[0]]
        n = max(1, len(ops))
        tot = log.totals(log.jobs_for(ops, t))
        scanned = sum(self.table_files[tb] for s in ops for tb in QUERIES[s.attrs["query"]][0])

        def mean(kind: str) -> float:
            spans = [s for s in t.spans if s.name.startswith(kind + ":") and s.start >= m.window[0]]
            return sum(s.seconds for s in spans) / n

        return {
            "analytics.build_s": mean("analytics.build"),
            "analytics.plan_s": mean("analytics.plan"),
            "analytics.exec_s": mean("analytics.exec"),
            "analytics.shuffle_bytes": tot["shuffle_write_bytes"] / n,
            "analytics.jobs_per_query": tot["jobs"] / n,
            "analytics.files_read_ratio": tot["files_read"] / scanned if scanned else 0.0,
            # query time per full pass of the suite
            "analytics.suite_s": sum(x for k, x in zip(m.kinds, m.latencies) if k == "query")
            * len(QUERIES) / max(1, m.kinds.count("query")),
        }
