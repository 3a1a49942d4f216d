"""search_serving: the read side, over the index the copy produces.

Set-up generates events of the backfill's shape, takes the copy job's
expected output (``gen.last_write_wins``, which backfill_copy checks
the copy commits action for action), decodes the bodies into fields
and writes that once as parquet. No Spark job runs in set-up besides
the warm-up requests, so no write-path change moves this workload's
figures. One client then sends the seeded ``_search`` body mix
through ``es_search``, closed loop, materialising each result with
``collect()``; the frame is not cached, because caching is the
program's decision. Every response is compared with DuckDB over the
same parquet.
"""

from __future__ import annotations

import json
import os
import time

import gen
from harness import median, percentile
from oracle import DuckOracle

#: enough requests per run that p80 has at least ten beyond it,
#: whatever the host's speed, so the tail percentile is the same in
#: every run
MIN_REQUESTS = 60
TAIL_PCT = 80
#: a session's first requests run up to ten times slower than later
#: ones (class loading, code generation, JIT), and latency still falls
#: by about a third over the next few dozen (hits median 195 ms over
#: requests 20-40, 140 ms over 60-80 on a 4-core host). A timed
#: window on that slope measures how far down a host's momentary speed
#: lets it get; forty warm-up requests take it most of the way
WARMUP_REQUESTS = 40

COLUMNS = ["doc_id", "index_id", "ts", "user", "tag", "status", "n", "value", "text"]


def write_index(docs: dict, path: str, n_files: int) -> None:
    """The copied documents (``gen.last_write_wins`` output) decoded
    into one typed row each, written once as ``n_files`` parquet files
    (microsecond timestamps, as Spark reads them)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for doc_id, (index_id, _, body) in docs.items():
        d = json.loads(body)
        rows.append((doc_id, index_id, *(d[c] for c in COLUMNS[2:])))
    pdf = pd.DataFrame(rows, columns=COLUMNS)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["n"] = pdf["n"].astype("int32")
    os.makedirs(path)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        part = pa.Table.from_pandas(pdf.iloc[i * step : (i + 1) * step], preserve_index=False)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), coerce_timestamps="us")


class Searcher:
    """One client sending the seeded request sequence; every response
    is checked against DuckDB, and a request that raises counts as a
    failed operation, not a crash."""

    def __init__(self, spark, seed: int, path: str, tracer):
        self.df = spark.read.parquet(path)
        self.bodies = gen.search_bodies(seed)
        self.oracle = DuckOracle(os.path.join(path, "*.parquet"))
        self.tracer = tracer
        self.next = 0
        self.sent: list[tuple[str, dict]] = []  # requests of the timed loop
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def one(self, family: str, body: dict) -> float:
        from flink_elasticsearch_ingestion_spark.operators.es_search import es_search

        t0 = time.monotonic()
        try:
            rows = es_search(self.df, body).collect()
        except Exception as e:  # the request boundary: record, keep serving
            rows = e
        latency = time.monotonic() - t0
        self._check(body, rows)
        return latency

    def traced_one(self, family: str, body: dict) -> float:
        from flink_elasticsearch_ingestion_spark.operators.es_query import compile_query
        from flink_elasticsearch_ingestion_spark.operators.es_search import es_search

        t = self.tracer
        with t.span("es_search.request", family=family) as req:
            try:
                with t.span("es_query.compile"):
                    compile_query(body["query"])
                with t.span("es_search.plan"):
                    out = es_search(self.df, body)
                with t.span("es_search.exec"):
                    rows = out.collect()
            except Exception as e:  # as in ``one``
                rows = e
        self._check(body, rows)
        return req["dur_s"]

    def _check(self, body: dict, rows) -> None:
        self.attempted += 1
        if isinstance(rows, Exception):
            problem = f"raised {type(rows).__name__}: {str(rows)[:300]}"
        else:
            problem = self.oracle.check(body, [tuple(r) for r in rows])
        if problem:
            self.failed += 1
            self.problems.append(f"search {body}: {problem}")

    def loop(self, seconds: float, traced: bool = False, bodies=None) -> list[tuple[str, float]]:
        """Closed loop for ``seconds`` and at least ``MIN_REQUESTS``
        requests, or over exactly ``bodies`` when given."""
        run = self.traced_one if traced else self.one
        out = []
        if bodies is not None:
            return [(f, run(f, b)) for f, b in bodies]
        t_end = time.monotonic() + seconds
        while len(out) < MIN_REQUESTS or time.monotonic() < t_end:
            family, body = self.bodies[self.next % len(self.bodies)]
            self.next += 1
            self.sent.append((family, body))
            out.append((family, run(family, body)))
        return out


def setup(spark, seed: int, work: str, tracer) -> Searcher:
    """Write the search table and send ``WARMUP_REQUESTS`` requests of a
    separate seeded sequence."""
    path = os.path.join(work, "search", "docs")
    with tracer.span("setup.index"):
        docs = gen.last_write_wins(gen.copy_events(seed, gen.SEARCH_INDEX))
        write_index(docs, path, spark.sparkContext.defaultParallelism)
    searcher = Searcher(spark, seed, path, tracer)
    with tracer.span("setup.warm_search"):
        searcher.loop(0, bodies=gen.search_bodies(seed + 10**6)[:WARMUP_REQUESTS])
    return searcher


def run(spark, seed: int, seconds: float, work: str, tracer) -> dict:
    t0 = time.monotonic()
    searcher = setup(spark, seed, work, tracer)
    setup_s = time.monotonic() - t0
    # a traced run sends MIN_REQUESTS untraced, then the same ones traced
    lat = searcher.loop(0 if tracer.enabled else seconds)
    xs = [x for _, x in lat]
    out = {
        "setup_s": setup_s,
        "throughput_per_s": len(xs) / sum(xs),
        "latency_p50_ms": 1000 * median(xs),
        "latency_tail_ms": 1000 * percentile(xs, TAIL_PCT),
        "tail_pct": TAIL_PCT,
        "samples_ms": [round(1000 * x, 3) for x in xs],
    }
    if tracer.enabled:
        traced_lat = searcher.loop(0, traced=True, bodies=searcher.sent)
        out["layers"] = search_layers(tracer, lat, traced_lat)
    out.update(attempted=searcher.attempted, failed=searcher.failed, problems=searcher.problems)
    searcher.oracle.close()
    return out


def search_layers(tracer, untraced, traced) -> dict:
    reqs = tracer.named("es_search.request")[-len(traced):]
    first = reqs[0]["id"]
    kids = [s for s in tracer.spans if s["id"] > first]
    per = lambda name: [s for s in kids if s["name"] == name]  # noqa: E731
    out = {
        "es_query.compile_ms": 1000 * median([s["dur_s"] for s in per("es_query.compile")]),
        "es_search.plan_ms": 1000 * median([s["dur_s"] for s in per("es_search.plan")]),
        "es_search.exec_ms": 1000 * median([s["dur_s"] for s in per("es_search.exec")]),
        "es_search.jobs_per_search": sum(s["jobs"] for s in per("es_search.exec")) / len(reqs),
        "es_search.tasks_per_search": sum(s["tasks"] for s in per("es_search.exec")) / len(reqs),
        "trace.overhead_s": sum(x for _, x in traced) - sum(x for _, x in untraced),
    }
    for family in gen.SEARCH["mix"]:
        xs = [r["dur_s"] for r in reqs if r["family"] == family]
        out[f"es_search.{family}_p50_ms"] = 1000 * median(xs) if xs else 0.0
    return out
