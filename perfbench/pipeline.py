"""The ETL workload ``poll_stream``: an open-loop poll generator feeding
the micro-batch pipeline, plus the prefix passes that split its execution
time across the operators."""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from datetime import datetime, timezone

import pyarrow.dataset as pads

import gen
import stats
from harness import Bench, Measured, tree_cpu_s
from spans import EventLog, Span

CHAIN = ("decode", "enrich", "quality", "anomaly")


def build_chain(b: Bench, landing: str, now: int, upto: str = "anomaly"):
    """read_flight_records → enrich → score_quality → detect_anomalies,
    stopping after ``upto``; one span per call (plan construction only)."""
    from aws_flight_data_pipeline_spark.operators.anomaly import detect_anomalies
    from aws_flight_data_pipeline_spark.operators.enrich import enrich
    from aws_flight_data_pipeline_spark.operators.quality import score_quality
    from aws_flight_data_pipeline_spark.sources.opensky import read_flight_records

    t = b.tracer
    with t.span("opensky.build"):
        df = read_flight_records(b.spark, landing)
    if upto == "decode":
        return df
    with t.span("enrich.build"):
        df = enrich(df)
    if upto == "enrich":
        return df
    with t.span("quality.build"):
        df = score_quality(df, now)
    if upto == "quality":
        return df
    with t.span("anomaly.build"):
        return detect_anomalies(df, now)


def check_split(clean: str, quarantine: str, planted: gen.PollStats) -> list[str]:
    """clean + quarantine = decoded records; every invalid-icao24 and
    missing-position record is quarantined; every impossible-altitude
    record carries the impossible_altitude flag."""
    cols = ["callsign", "impossible_altitude"]
    c = pads.dataset(clean, format="parquet").to_table(columns=cols).to_pydict()
    q = pads.dataset(quarantine, format="parquet").to_table(columns=cols).to_pydict()
    errors = []
    if len(c["callsign"]) + len(q["callsign"]) != planted.vectors:
        errors.append(f"clean {len(c['callsign'])} + quarantine {len(q['callsign'])} != {planted.vectors} decoded")

    def count(d: dict, prefix: str) -> int:
        return sum(1 for s in d["callsign"] if s and s.startswith(prefix))

    for prefix, want in ((gen.BAD_ICAO, planted.bad_icao), (gen.BAD_POSITION, planted.bad_position)):
        if count(q, prefix) != want or count(c, prefix):
            errors.append(f"{prefix}: {count(q, prefix)} quarantined, {count(c, prefix)} clean, {want} planted")
    flagged = sum(
        1 for d in (c, q) for s, f in zip(d["callsign"], d["impossible_altitude"]) if s and s.startswith(gen.BAD_ALTITUDE) and f
    )
    if flagged != planted.bad_altitude:
        errors.append(f"{gen.BAD_ALTITUDE}: {flagged} flagged of {planted.bad_altitude} planted")
    return errors


def _tree_size(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def prefix_exec(b: Bench, landing: str, now: int, repeats: int = 2) -> dict:
    """Execution share of each operator: materialize successive prefixes of
    the chain to the noop sink and take differences of the medians."""
    times: dict[str, list[float]] = {s: [] for s in CHAIN}
    for _ in range(repeats):
        for step in CHAIN:
            with b.tracer.span(f"prefix:{step}"):
                df = build_chain(b, landing, now, upto=step)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times[step].append(time.perf_counter() - t0)
    med = {s: stats.median(v) for s, v in times.items()}
    out = {"opensky.decode_s": med["decode"]}
    prev = "decode"
    for step in CHAIN[1:]:
        out[f"{step}.exec_s"] = max(0.0, med[step] - med[prev])
        prev = step
    return out


def prefix_shuffle(b: Bench, log: EventLog) -> dict:
    """Shuffle bytes each operator adds, from the prefix passes' jobs."""
    t = b.tracer
    by = {s: log.totals(log.jobs_for(t.named(f"prefix:{s}"), t))["shuffle_write_bytes"] for s in CHAIN}
    return {
        "quality.shuffle_bytes": max(0, by["quality"] - by["enrich"]),
        "anomaly.shuffle_bytes": max(0, by["anomaly"] - by["quality"]),
    }


def _span_median(b: Bench, name: str) -> float:
    spans = b.tracer.named(name)
    return stats.median([s.seconds for s in spans]) if spans else 0.0


def build_layers(b: Bench) -> dict:
    return {f"{k}.build_s": _span_median(b, f"{k}.build") for k in ("enrich", "quality", "anomaly")}


class PollStream:
    """Closed loop, one poll at a time: ``micro_batch_pipeline`` runs on a
    short processing-time trigger, and the generator lands the next poll
    (30 s of event time later than the last) as soon as the previous one's
    micro-batch has committed, so every micro-batch holds exactly one poll."""

    name = "poll_stream"
    poll_vectors = 100
    warm_polls = 2
    min_ops = 5
    batch_s = 5  # nominal length of a micro-batch
    max_polls = 120  # an hour of polls; the event time of poll i is fixed by i
    trigger = {"processingTime": "250 milliseconds"}
    attribute_by_time = True

    def setup(self, b: Bench, d: str) -> None:
        self.world = gen.make_world(b.seed)
        self.dir = d
        self.landing = os.path.join(d, "landing")
        os.makedirs(self.landing)
        self.docs: list[tuple[str, bytes, gen.PollStats]] = []
        for i in range(self.warm_polls + self.min_ops):
            self._doc(i)
        self.next = 0
        self.planted = gen.PollStats()
        self.clean, self.quarantine = os.path.join(d, "clean"), os.path.join(d, "quarantine")
        self.ckpt = os.path.join(d, "checkpoint")
        self.query = None

    def _doc(self, i: int) -> tuple[str, bytes, gen.PollStats]:
        """Poll ``i``, generated from the seed and ``i`` the first time."""
        while len(self.docs) <= i:
            k = len(self.docs)
            t = self.world.now - 30 * (self.max_polls - 1 - k)
            doc, st = gen.poll_document(self.world, t, self.poll_vectors, salt=k)
            self.docs.append((gen.poll_name(t, k), json.dumps(doc, separators=(",", ":")).encode(), st))
        return self.docs[i]

    def _land(self) -> tuple[str, float]:
        """Land the next poll; returns its file name and landing time."""
        name, data, st = self._doc(self.next)
        self.next += 1
        tmp = os.path.join(self.landing, "." + name)
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.rename(tmp, os.path.join(self.landing, name))
        self.planted.add(st)
        self.planted.bytes += len(data)
        return name, time.time()

    def _batches(self) -> dict[str, int]:
        """poll file name -> micro-batch id, from the file source's log."""
        out = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def _committed(self) -> dict[int, float]:
        """micro-batch id -> wall time its commit was logged (after its
        writes finished)."""
        d = os.path.join(self.ckpt, "commits")
        if not os.path.isdir(d):
            return {}
        return {int(f): os.stat(os.path.join(d, f)).st_mtime for f in os.listdir(d) if f.isdigit()}

    def _wait_done(self, names: list[str], timeout: float = 90.0) -> tuple[dict, dict]:
        deadline = time.time() + timeout
        while True:
            batches, committed = self._batches(), self._committed()
            if all(n in batches and batches[n] in committed for n in names):
                return batches, committed
            if self.query.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"stream did not finish: {self.query.exception()}")
            time.sleep(0.1)

    def warmup(self, b: Bench) -> None:
        from aws_flight_data_pipeline_spark.streaming import streams

        self._patched = {}

        def patch(attr: str, fn) -> None:
            self._patched.setdefault(attr, getattr(streams, attr))
            setattr(streams, attr, fn)

        if b.tracer.enabled:
            for attr, name in (("enrich", "enrich.build"), ("score_quality", "quality.build"),
                               ("detect_anomalies", "anomaly.build"), ("with_time_partitions", "sinks.build"),
                               ("write_quarantine_split", "sinks.write")):
                patch(attr, b.tracer.wrap(name, getattr(streams, attr)))
        # engine CPU before and after each micro-batch's sink write, the
        # batch's last step
        self.sink_cpu: list[tuple[float, float]] = []
        sink = streams.write_quarantine_split

        def sampled(*args, **kwargs):
            c0 = tree_cpu_s()
            try:
                return sink(*args, **kwargs)
            finally:
                self.sink_cpu.append((c0, tree_cpu_s()))

        patch("write_quarantine_split", sampled)
        self.query = streams.micro_batch_pipeline(
            streams.stream_raw_states(b.spark, self.landing), self.clean, self.quarantine, self.ckpt,
            trigger=self.trigger,
        )
        for _ in range(self.warm_polls):
            self._wait_done([self._land()[0]], timeout=150.0)

    def measure(self, b: Bench) -> Measured:
        m = Measured()
        names, landed = [], {}
        lateness = [0.0]  # from a batch's commit to the landing of the next poll
        start = time.time()
        # a fixed number of polls for the run length asked for, so that the
        # host's speed does not change what is measured
        for _ in range(min(self.max_polls - self.next, max(self.min_ops, round(b.seconds / self.batch_s)))):
            self._doc(self.next)  # generated outside the timed region
            c0, sinks0 = tree_cpu_s(), len(self.sink_cpu)
            name, at = self._land()
            if names:
                lateness.append(at - committed[batches[names[-1]]])
            landed[name] = at
            names.append(name)
            m.attempted += 1
            try:
                batches, committed = self._wait_done([name])
            except RuntimeError as e:
                m.fail(str(e))
                self._stop(b)
                return m
            if len(self.sink_cpu) != sinks0 + 1:
                m.fail(f"poll {name}: {len(self.sink_cpu) - sinks0} sink writes, expected 1")
                continue
            before, after = self.sink_cpu[-1]
            # the batch's CPU runs from the landing to the end of its sink write
            m.cpu.append(after - c0)
            m.op_cpu.append(after - c0)
            m.table_cpu.append(after - before)
            m.latencies.append(committed[batches[name]] - landed[name])
            m.kinds.append("poll")
        measured = sorted({batches[n] for n in names})
        deadline = time.time() + 10
        while True:  # a batch's progress event is posted just after its commit
            progress = list(self.query.recentProgress)
            if {p.batchId for p in progress if p.numInputRows > 0} >= set(measured) or time.time() > deadline:
                break
            time.sleep(0.05)
        self._stop(b)
        m.window = (start, max(committed[batches[n]] for n in names))
        m.extra["lateness_s"] = max(lateness)
        # one event per measured batch: the one that read its poll
        m.extra["progress"] = [
            {"batchId": p.batchId, "timestamp": p.timestamp, "durationMs": dict(p.durationMs)}
            for p in progress if p.batchId in set(measured) and p.numInputRows > 0
        ]
        # a batch's time is its whole trigger: decode, operators, sinks, offset commit
        m.table_ops = [p["durationMs"]["triggerExecution"] / 1000.0 for p in m.extra["progress"]]
        if len(m.table_ops) != len(measured):
            m.fail(f"progress events for {len(m.table_ops)} of {len(measured)} measured batches")
        m.rows = sum(st.vectors for n, _, st in self.docs if n in landed)
        m.extra["backlog"] = self._backlog(names, landed, batches, m.extra["progress"])
        m.extra["batch_names"] = {bid: [n for n in names if batches[n] == bid] for bid in measured}
        m.extra["polls_per_batch"] = stats.median([len(v) for v in m.extra["batch_names"].values()])
        m.extra["landing_bytes"] = sum(len(data) for n, data, _ in self.docs if n in landed)
        self._last = m
        return m

    def _backlog(self, names, landed, batches, progress) -> int:
        """Most polls landed before a batch started but left to a later batch."""
        worst = 0
        for p in progress:
            start = _iso_epoch(p["timestamp"])
            waiting = sum(1 for n in names if landed[n] < start and batches[n] > p["batchId"])
            worst = max(worst, waiting)
        return worst

    def _stop(self, b: Bench) -> None:
        self.query.stop()
        self.query.awaitTermination(60)
        from aws_flight_data_pipeline_spark.streaming import streams

        for attr, fn in self._patched.items():
            setattr(streams, attr, fn)
        self._patched = {}

    def check(self, b: Bench, m: Measured) -> list[str]:
        if not m.latencies:
            return []
        # ``planted`` covers the warm-up polls too: every landed poll is checked
        return check_split(self.clean, self.quarantine, self.planted)

    def attribute(self, b: Bench) -> None:
        """Prefix passes over one median-sized micro-batch of polls."""
        by_batch = self._last.extra["batch_names"]
        names = sorted(by_batch.values(), key=len)[len(by_batch) // 2]
        d = os.path.join(self.dir, "prefix_landing")
        os.makedirs(d)
        for n in names:
            shutil.copy(os.path.join(self.landing, n), os.path.join(d, n))
        self.prefix = prefix_exec(b, d, self.world.now)

    def layers(self, b: Bench, m: Measured, log: EventLog) -> dict:
        t = b.tracer
        progress = m.extra["progress"]
        for p in progress:
            start = _iso_epoch(p["timestamp"])
            t.spans.append(Span(len(t.spans), "op:batch", start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0))
        batch_spans = t.named("op:batch")
        n = max(1, len(batch_spans))
        jobs = log.jobs_for(batch_spans, t, by_time=True)
        scans = log.totals(jobs)
        writes = log.jobs_for(t.named("sinks.write"), t, by_time=True)
        files, size = _tree_size(self.clean)
        qfiles, qsize = _tree_size(self.quarantine)

        def dur(key: str) -> float:
            return stats.median([p["durationMs"].get(key, 0) / 1000.0 for p in progress]) if progress else 0.0

        return {
            **self.prefix, **prefix_shuffle(b, log), **build_layers(b),
            "opensky.landing_scans": scans["files_read"] / len(m.latencies),
            "opensky.read_amplification": scans["files_bytes"] / m.extra["landing_bytes"],
            "sinks.write_s": _span_median(b, "sinks.write"),
            "sinks.jobs": len(writes) / n,
            "sinks.files_written": (files + qfiles) / max(1, len(self._committed())),
            "sinks.bytes_written": (size + qsize) / max(1, len(self._committed())),
            "stream.jobs_per_batch": len(jobs) / n,
            "stream.polls_per_batch": m.extra["polls_per_batch"],
            "stream.add_batch_s": dur("addBatch"),
            "stream.query_planning_s": dur("queryPlanning"),
            "stream.offset_commit_s": dur("walCommit") + dur("commitOffsets"),
            "stream.backlog_polls": m.extra["backlog"],
            "generator.lateness_s": m.extra["lateness_s"],
        }


def _iso_epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
