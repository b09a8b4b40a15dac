"""The versioned-table half of the ``lake`` workload: one writer and
reader on ``sources/versioned.py``.

Each cycle commits the next hourly increment (footer stats on
``collection_time``, a bloom on ``icao24``), merges late corrections into
the previous hour, deletes the hour that fell out of retention, and runs
point (icao24) and range (time window) lookups through ``read(where=)``.
Increments are generated one hour ahead, outside the timed operations, so
any number of cycles can run. The benchmark keeps its own copy of the
table's rows and checks every result and accounting dict against it.
"""

from __future__ import annotations

import glob
import os
import random

import pyarrow.parquet as pq

import gen
import stats
from harness import Bench, Measured
from spans import EventLog

KEY = ("icao24", "collection_time")


def _load(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


class LakeCommits:
    base_hours = 3
    retain_hours = 3
    rows_per_hour = 500
    point_lookups = 2
    range_lookups = 2
    #: kinds of the cycle's operations
    KINDS = ("commit", "merge", "delete", "lookup_point", "lookup_range")

    def setup(self, b: Bench, d: str) -> None:
        self.world = gen.make_world(b.seed)
        self.input = os.path.join(d, "input")
        self.increments: list[str] = []
        self.corrections: list[str] = []  # corrections[h] targets increments[h]
        self.hours: list[int] = []
        self.path = os.path.join(d, "table")
        self.book: dict[tuple, float] = {}
        self.rng = random.Random(b.seed)
        self._generate(self.base_hours)

    def _generate(self, h: int) -> None:
        while len(self.increments) <= h:
            inc, cor, start = gen.write_versioned_hour(self.world, self.input, len(self.increments), self.rows_per_hour)
            self.increments.append(inc)
            self.corrections.append(cor)
            self.hours.append(start)

    def _commit(self, b: Bench, h: int) -> int:
        from aws_flight_data_pipeline_spark.sources import versioned

        self._generate(h)
        df = b.spark.read.parquet(self.increments[h])
        v = versioned.commit(df, self.path, stats_cols=("collection_time",), bloom_cols=("icao24",))
        for r in _load(self.increments[h]):
            self.book[(r["icao24"], r["collection_time"])] = r["velocity_knots"]
        return v

    def warmup(self, b: Bench) -> None:
        """Commit the first hours, then one untimed cycle; it runs every
        kind of operation, the retention delete included."""
        from aws_flight_data_pipeline_spark.sources import versioned

        for h in range(self.base_hours):
            self._commit(b, h)
        self.next = self.base_hours
        self.oldest = 0
        self.version = versioned.latest_version(self.path)
        m = Measured()
        self.cycle(b, m)
        if m.failed:
            raise RuntimeError("versioned-table warm-up failed: " + "; ".join(m.errors))

    def _op(self, b: Bench, m: Measured, kind: str, fn, rows: int):
        def traced():
            with b.tracer.span(f"op:{kind}"):
                return fn()

        return b.attempt(m, kind, traced, rows=rows)

    def cycle(self, b: Bench, m: Measured) -> None:
        from aws_flight_data_pipeline_spark.sources import versioned

        self._generate(self.next)  # outside the timed operations
        h = self.next
        self.next += 1
        spark, path = b.spark, self.path
        inc_rows = self.rows_per_hour

        # commit the next hour
        v = self._op(b, m, "commit", lambda: self._commit(b, h), inc_rows)
        if v is not None:
            if v != self.version + 1:
                m.fail(f"commit: version {v}, expected {self.version + 1}")
            self.version = v
            m.extra.setdefault("commit_versions", []).append(v)

        # late corrections for the previous hour
        cor = _load(self.corrections[h - 1])
        updates = sum(1 for r in cor if (r["icao24"], r["collection_time"]) in self.book)
        res = self._op(b, m, "merge", lambda: versioned.merge_into(
            spark, path, spark.read.parquet(self.corrections[h - 1]), on=KEY), len(cor))
        if res is not None:
            self.version = res["version"]
            for r in cor:
                self.book[(r["icao24"], r["collection_time"])] = r["velocity_knots"]
            if (res["rows_updated"], res["rows_inserted"], res["rows_deleted"]) != (updates, len(cor) - updates, 0):
                m.fail(f"merge: accounting {res}, expected {updates} updated, {len(cor) - updates} inserted")
            m.extra.setdefault("merge_rewritten", []).append(res["files_rewritten"])

        # retention: drop the oldest hour once more than retain_hours are live
        if self.next - self.oldest > self.retain_hours:
            lo = self.hours[self.oldest]
            hi = lo + 3599
            expired = [k for k in self.book if lo <= k[1] <= hi]
            res = self._op(b, m, "delete", lambda: versioned.delete_where(
                spark, path, {"collection_time": (lo, hi)}), len(expired))
            if res is not None:
                self.version = res["version"]
                if res["rows_deleted"] != len(expired):
                    m.fail(f"delete: {res['rows_deleted']} rows deleted, expected {len(expired)}")
                for k in expired:
                    del self.book[k]
            self.oldest += 1

        # point lookups by aircraft, range lookups by time window
        live = sorted(self.book)
        for _ in range(self.point_lookups):
            icao = self.rng.choice(live)[0]
            want = sorted((k[1], val) for k, val in self.book.items() if k[0] == icao)
            self._lookup(b, m, "point", {"icao24": (icao, icao)}, want)
        t_lo = self.hours[self.oldest]
        t_hi = self.hours[self.next - 1] + 3600
        for _ in range(self.range_lookups):
            lo = self.rng.randrange(t_lo, t_hi - 600)
            want = sorted((k[1], val) for k, val in self.book.items() if lo <= k[1] <= lo + 599)
            self._lookup(b, m, "range", {"collection_time": (lo, lo + 599)}, want)

    def _lookup(self, b: Bench, m: Measured, kind: str, where: dict, want: list) -> None:
        from aws_flight_data_pipeline_spark.sources import versioned

        tbl = self._op(b, m, f"lookup_{kind}", lambda: versioned.read(b.spark, self.path, where=where).toArrow(), len(want))
        if tbl is None:
            return
        got = sorted(zip(tbl.column("collection_time").to_pylist(), tbl.column("velocity_knots").to_pylist()))
        if got != want:
            m.fail(f"lookup {where}: {len(got)} rows, expected {len(want)}")

    def check(self, b: Bench, m: Measured) -> list[str]:
        from aws_flight_data_pipeline_spark.sources import versioned

        n = versioned.read(b.spark, self.path).count()
        return [] if n == len(self.book) else [f"table has {n} rows, expected {len(self.book)}"]

    # --- tracing -----------------------------------------------------------

    def trace_plan_files(self, b: Bench) -> None:
        """In traced runs, record a span and the kept/skipped counts of
        every ``versioned.plan_files`` call."""
        from aws_flight_data_pipeline_spark.sources import versioned

        if not b.tracer.enabled:
            return
        self._plan_files = versioned.plan_files
        self.plans: list[tuple[int, int, int]] = []  # (span id, kept, skipped)
        tracer = b.tracer

        def traced(*args, **kwargs):
            with tracer.span("versioned.plan_files") as sp:
                kept, skipped = self._plan_files(*args, **kwargs)
            self.plans.append((sp.parent, len(kept), skipped))
            return kept, skipped

        versioned.plan_files = traced

    def untrace_plan_files(self) -> None:
        if getattr(self, "_plan_files", None) is not None:
            from aws_flight_data_pipeline_spark.sources import versioned

            versioned.plan_files = self._plan_files
            self._plan_files = None

    def layers(self, b: Bench, m: Measured, log: EventLog) -> dict:
        t = b.tracer
        by_kind: dict[str, list[float]] = {}
        for kind, lat in zip(m.kinds, m.latencies):
            by_kind.setdefault(kind, []).append(lat)
        lookups = by_kind.get("lookup_point", []) + by_kind.get("lookup_range", [])
        ops = {s.id: s for s in t.spans if s.name.startswith("op:") and s.start >= m.window[0]}
        commits = [s for s in ops.values() if s.name == "op:commit"]
        jobs = log.totals(log.jobs_for(commits, t))["jobs"]
        versions = m.extra.get("commit_versions", [])
        data = inc = 0
        for v in versions:
            data += sum(os.path.getsize(f) for f in glob.glob(os.path.join(self.path, "data", f"v{v:09d}-*", "*.parquet")))
            data += os.path.getsize(os.path.join(self.path, "_commits", f"{v:09d}.json"))
        for h in range(self.next - len(versions), self.next):
            inc += os.path.getsize(self.increments[h])
        lookup_plans = [(k, s) for parent, k, s in self.plans if parent in ops and ops[parent].name.startswith("op:lookup")]
        plan_spans = [s for s in t.named("versioned.plan_files") if s.parent in ops and ops[s.parent].name.startswith("op:lookup")]
        manifests = [os.path.getsize(os.path.join(self.path, "_commits", f"{v:09d}.json")) for v in versions]
        kept = sum(k for k, _ in lookup_plans)
        total = sum(k + s for k, s in lookup_plans)

        def p50(kind: str) -> float:
            return stats.median(by_kind[kind]) if by_kind.get(kind) else 0.0

        return {
            "versioned.commit_p50_s": p50("commit"),
            "versioned.merge_p50_s": p50("merge"),
            "versioned.delete_p50_s": p50("delete"),
            "versioned.lookup_p50_s": stats.median(lookups) if lookups else 0.0,
            "versioned.lookup_tail_s": stats.percentile(lookups, stats.tail_level(len(lookups))) if lookups else 0.0,
            "versioned.jobs_per_commit": jobs / max(1, len(commits)),
            "versioned.manifest_bytes": stats.median(manifests) if manifests else 0.0,
            "versioned.write_amplification": data / inc if inc else 0.0,
            "versioned.files_rewritten_per_merge": stats.median(m.extra["merge_rewritten"]) if m.extra.get("merge_rewritten") else 0.0,
            "versioned.plan_files_s": stats.median([s.seconds for s in plan_spans]) if plan_spans else 0.0,
            "versioned.files_kept_ratio": kept / total if total else 0.0,
        }
