"""``lake``: one closed-loop client serving the query surface while it
maintains a versioned table.

Each pass runs the 16 analytics queries (``queries.py``) in a seeded
shuffled order, with ``cycles_per_pass`` versioned-table cycles
(``commits.py``: commit, merge, retention delete, point and range lookups)
at seeded positions among them. Every operation is one latency and one
CPU sample; the queries are the workload's main operations and the
versioned-table operations its table operations.
"""

from __future__ import annotations

import os
import random
import time

from commits import LakeCommits
from harness import Bench, Measured
from queries import LakeQueries
from spans import EventLog


class Lake:
    name = "lake"
    cycles_per_pass = 2
    pass_s = 12  # nominal length of a pass

    def __init__(self):
        self.queries = LakeQueries()
        self.commits = LakeCommits()

    def setup(self, b: Bench, d: str) -> None:
        self.queries.setup(b, os.path.join(d, "queries"))
        self.commits.setup(b, os.path.join(d, "commits"))
        self.rng = random.Random(b.seed + 1)

    def warmup(self, b: Bench) -> None:
        self.queries.warmup(b)
        self.commits.warmup(b)

    def measure(self, b: Bench) -> Measured:
        m = Measured()
        self.commits.trace_plan_files(b)
        start = time.time()
        # a fixed number of passes for the run length asked for, so that the
        # host's speed does not change what is measured
        for _ in range(max(1, round(b.seconds / self.pass_s))):
            if m.failed:
                break
            order: list[str | None] = self.queries.order()
            for _ in range(self.cycles_per_pass):
                order.insert(self.rng.randrange(len(order) + 1), None)
            for name in order:
                if name is None:
                    self.commits.cycle(b, m)
                else:
                    self.queries.one(b, m, name)
        m.window = (start, time.time())
        self.commits.untrace_plan_files()
        m.table_ops = [x for k, x in zip(m.kinds, m.latencies) if k in LakeCommits.KINDS]
        m.table_cpu = [x for k, x in zip(m.kinds, m.cpu) if k in LakeCommits.KINDS]
        m.op_cpu = [x for k, x in zip(m.kinds, m.cpu) if k == "query"]
        return m

    def check(self, b: Bench, m: Measured) -> list[str]:
        return self.queries.check(b, m) + self.commits.check(b, m)

    def attribute(self, b: Bench) -> None:
        pass

    def layers(self, b: Bench, m: Measured, log: EventLog) -> dict:
        return {**self.queries.layers(b, m, log), **self.commits.layers(b, m, log)}
