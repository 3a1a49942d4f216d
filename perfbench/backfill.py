"""backfill_copy: the reference's copy job at bulk grain.

Set-up stages a seeded source index as ``es_scroll`` JSONL shards. A
timed pass is ``scroll_read`` -> ``incremental_filter`` -> ``last_wins``
-> ``es_bulk`` write -> ``max_ts_checkpoint`` -> ``CheckpointStore.save``
(``CopyJob.copy_pass``); after it the delta slice is appended to the
shards and the checkpointed re-run goes through the ts pushdown. The shards are truncated back to the base
index after every re-run, so each pass copies the same input.
"""

from __future__ import annotations

import collections
import datetime as dt
import json
import os
import shutil
import time

import gen
from harness import Tracer, median, source_rows, tail

#: timed iterations a run makes at least, whatever ``--seconds`` is.
#: Pass time varies by about a tenth between sessions and still falls
#: while the JIT compiles (7.2, 6.2, 5.8, 5.7 s over a session's first
#: passes on a 4-core host); the median of two is steadier than one.
MIN_ITERATIONS = 2


class CopyJob:
    """The copy job over one staged index, composed from the package's
    public functions (``copy_pass``)."""

    def __init__(self, spark, work: str, params: dict, base, delta, tracer):
        from flink_elasticsearch_ingestion_spark.sources.es_bulk import register_bulk_sink
        from flink_elasticsearch_ingestion_spark.sources.es_scroll import register_scroll_source

        self.spark = spark
        self.work = work
        self.params = params
        self.tracer = tracer
        self.untraced = Tracer(spark.sparkContext, "", enabled=False)
        self.index = os.path.join(work, "index")
        self.base, self.delta = base, delta
        self.expected_full = gen.last_write_wins(base)
        self.expected_delta = gen.last_write_wins(delta)
        self.max_ts_base = max(e[2] for e in base)
        self.max_ts_all = max(e[2] for e in base + delta)
        self.delta_lines = gen.scroll_lines(delta)
        register_scroll_source(spark)
        register_bulk_sink(spark)
        self.n_pass = 0

    # -- staging ----------------------------------------------------------
    def stage(self) -> None:
        """Stage the base events as ``n_shards`` JSONL shards, dealt
        round robin, in the line format ``write_index_shards`` writes.
        Written here rather than through that Spark job to keep each
        run's set-up short (README.md)."""
        os.makedirs(self.index, exist_ok=True)
        self.shards = [
            os.path.join(self.index, f"shard-{i}.jsonl") for i in range(self.params["n_shards"])
        ]
        self._write_lines(gen.scroll_lines(self.base), "w")
        self.base_sizes = {s: os.path.getsize(s) for s in self.shards}

    def _write_lines(self, lines: list[str], mode: str) -> None:
        handles = [open(s, mode, encoding="utf-8") for s in self.shards]
        try:
            for i, line in enumerate(lines):
                handles[i % len(handles)].write(line)
        finally:
            for h in handles:
                h.close()

    def append_delta(self) -> None:
        self._write_lines(self.delta_lines, "a")

    def truncate_delta(self) -> None:
        for s, size in self.base_sizes.items():
            os.truncate(s, size)

    # -- the job ----------------------------------------------------------
    def out_paths(self, kind: str) -> tuple[str, str]:
        self.n_pass += 1
        out = os.path.join(self.work, "out", f"{kind}-{self.n_pass}")
        return os.path.join(out, "bulk"), os.path.join(out, "checkpoint.json")

    def copy_pass(self, bulk: str, ck_path: str, tracer=None) -> dict:
        """One run of the copy job, composed as the package's own
        ``api.copy_run_bulk`` composes it: ``scroll_read`` ->
        ``incremental_filter`` from the checkpoint store (nothing saved
        yet: a full scan) -> ``last_wins``, persisted once and consumed
        by the ``es_bulk`` write and the ``max_ts_checkpoint`` agg ->
        ``CheckpointStore.save``.

        With an enabled ``tracer`` each layer runs in its own span, and
        the scan's output is persisted as well, so the scan span holds
        the scan alone and the last-wins span the shuffle alone. The
        scan span records the rows the source itself returned (before
        any filter Spark applies above it) as ``source_rows``."""
        from flink_elasticsearch_ingestion_spark.operators.copy import (
            incremental_filter,
            last_wins,
            max_ts_checkpoint,
        )
        from flink_elasticsearch_ingestion_spark.sources.es_scroll import scroll_read
        from flink_elasticsearch_ingestion_spark.streaming.shell import CheckpointStore

        t = tracer or self.untraced
        store = CheckpointStore(ck_path)
        since = store.load()
        kind = "full" if since is None else "incremental"
        out = {}
        with t.span(f"copy.{kind}_pass"):
            with t.span("es_scroll.scan", kind=kind) as sp:
                src = scroll_read(self.spark, self.index)
                src = incremental_filter(src, since and dt.datetime.fromisoformat(since))
                if t.enabled:
                    src = src.persist()
                    out["rows_in"] = sp["rows"] = src.count()
                    sp["source_rows"] = source_rows(src)
            with t.span("copy.last_wins", kind=kind) as sp:
                docs = last_wins(src).persist()
                out["rows_out"] = sp["rows"] = docs.count()
            if out["rows_out"]:
                with t.span("es_bulk.write", kind=kind):
                    _bulk_write(docs, bulk)
                with t.span("copy.checkpoint", kind=kind):
                    ck = max_ts_checkpoint(docs).first()["checkpoint_ts"]
                    store.save(_iso(ck))
            docs.unpersist()
            if t.enabled:
                src.unpersist()
        return out

    # -- checks -----------------------------------------------------------
    def check(self, bulk: str, ck_path: str, expected: dict, max_ts: str) -> tuple[int, int, list]:
        """(attempted, failed, problems): attempted = expected bulk
        actions; failed = actions missing, extra or with a wrong body,
        plus every action when the checkpoint is wrong."""
        from flink_elasticsearch_ingestion_spark.sources.es_bulk import read_bulk_payload
        from flink_elasticsearch_ingestion_spark.streaming.shell import CheckpointStore

        want = [(i, d, s) for d, (i, _, s) in expected.items()]
        try:
            got = [
                (a["index"]["_index"], a["index"]["_id"], body)
                for a, body in read_bulk_payload(bulk)
            ]
        except (AssertionError, ValueError, OSError) as e:  # missing or corrupt output
            return len(want), len(want), [f"bulk payload unreadable: {e!r}"]
        failed, problems = payload_diff(want, got)
        ck = CheckpointStore(ck_path).load()
        if ck is None or dt.datetime.fromisoformat(ck) != dt.datetime.fromisoformat(max_ts):
            problems.append(f"checkpoint {ck} != max ts {max_ts}")
            failed = len(want)
        return len(want), failed, problems

    def cleanup(self, bulk: str) -> None:
        shutil.rmtree(os.path.dirname(bulk), ignore_errors=True)


def payload_diff(want: list, got: list) -> tuple[int, list]:
    """Multiset difference between expected and committed (index, id,
    body) actions. Returns (wrong actions, problems)."""
    w, g = collections.Counter(want), collections.Counter(got)
    missing = sum((w - g).values())
    extra = sum((g - w).values())
    problems = []
    if missing or extra:
        problems.append(
            f"bulk payload differs: {missing} expected actions missing, {extra} unexpected"
            f" (digest want {gen.digest(sorted(want))[:12]} got {gen.digest(sorted(got))[:12]})"
        )
    return min(len(want), max(missing, extra)), problems


def _bulk_write(docs, path: str) -> None:
    (
        docs.select("doc_id", "index_id", "source")
        .write.format("es_bulk")
        .mode("overwrite")
        .option("path", path)
        .save()
    )


def _iso(ts: dt.datetime) -> str:
    return ts.isoformat(timespec="microseconds")


def bulk_stats(path: str) -> dict:
    """Actions, committed files and bytes from the bulk manifests."""
    files, actions = [], 0
    for f in os.listdir(path):
        if f.startswith("_MANIFEST") and f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                m = json.load(fh)
            files += m["files"]
            actions += m["n_actions"]
    size = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    return {"actions": actions, "files": len(files), "bytes": size}


def setup(spark, seed: int, work: str, tracer) -> CopyJob:
    """Generate, stage and warm the copy job: untimed, one full pass and
    one checkpointed re-run (Python worker spawn, the first scan and plan
    compilation)."""
    with tracer.span("gen.backfill"):
        base, delta = gen.backfill_inputs(seed)
    job = CopyJob(spark, work, gen.COPY, base, delta, tracer)
    with tracer.span("setup.stage"):
        job.stage()
    with tracer.span("setup.warmup"):
        bulk, ck = job.out_paths("warm")
        job.copy_pass(bulk, ck)
        job.append_delta()
        try:
            bulk2, _ = job.out_paths("warm-incr")
            job.copy_pass(bulk2, ck)
        finally:
            job.truncate_delta()
        job.cleanup(bulk)
        job.cleanup(bulk2)
    return job


def measure(job: CopyJob, seconds: float, min_iterations: int = MIN_ITERATIONS) -> dict:
    """Closed loop of (full pass, delta append, checkpointed re-run)
    for ``seconds`` and at least ``min_iterations`` times; every output
    is checked after its pass."""
    pass_s, incr_s = [], []
    attempted = failed = 0
    problems: list[str] = []

    def check(*args) -> None:
        nonlocal attempted, failed
        a, f, p = job.check(*args)
        attempted, failed = attempted + a, failed + f
        problems.extend(p)

    t_end = time.monotonic() + seconds
    while len(pass_s) < min_iterations or time.monotonic() < t_end:
        bulk, ck = job.out_paths("full")
        t0 = time.monotonic()
        job.copy_pass(bulk, ck)
        pass_s.append(time.monotonic() - t0)
        check(bulk, ck, job.expected_full, job.max_ts_base)
        bulk2, _ = job.out_paths("incr")
        job.append_delta()
        try:
            t0 = time.monotonic()
            job.copy_pass(bulk2, ck)
            incr_s.append(time.monotonic() - t0)
        finally:
            job.truncate_delta()
        check(bulk2, ck, job.expected_delta, job.max_ts_all)
        job.cleanup(bulk)  # with the checkpoint the re-run started from
        job.cleanup(bulk2)
    return {
        "samples": {"copy_s": pass_s, "incremental_copy_s": incr_s},
        "copy_docs_per_s": len(job.expected_full) / median(pass_s),
        "incremental_copy_s": median(incr_s),
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
    }


def traced(job: CopyJob, untraced: dict) -> dict:
    """One traced full pass and one traced re-run; layer metrics.
    ``untraced`` is a ``measure`` result: its first iteration is the
    untraced twin the tracing overhead is taken against."""
    t = job.tracer
    bulk, ck = job.out_paths("traced")
    full = job.copy_pass(bulk, ck, t)
    stats = bulk_stats(bulk)
    a, f, p = job.check(bulk, ck, job.expected_full, job.max_ts_base)
    bulk2, _ = job.out_paths("traced-incr")
    job.append_delta()
    try:
        job.copy_pass(bulk2, ck, t)
    finally:
        job.truncate_delta()
    a2, f2, p2 = job.check(bulk2, ck, job.expected_delta, job.max_ts_all)
    job.cleanup(bulk)
    job.cleanup(bulk2)
    scan = [s for s in t.named("es_scroll.scan") if s["kind"] == "full"][-1]
    incr_scan = [s for s in t.named("es_scroll.scan") if s["kind"] == "incremental"][-1]
    lw = [s for s in t.named("copy.last_wins") if s["kind"] == "full"][-1]
    wr = [s for s in t.named("es_bulk.write") if s["kind"] == "full"][-1]
    ckp = [s for s in t.named("copy.checkpoint") if s["kind"] == "incremental"][-1]
    n_index = len(job.base) + len(job.delta)
    layers = {
        "es_scroll.scan_s": scan["dur_s"],
        "es_scroll.rows_per_s": scan["rows"] / scan["dur_s"],
        "es_scroll.tasks": scan["tasks"],
        "es_scroll.delta_rows_ratio": incr_scan["source_rows"] / n_index,
        "copy.last_wins_s": lw["dur_s"],
        "copy.rewrite_ratio": 1 - full["rows_out"] / full["rows_in"],
        "copy.checkpoint_s": ckp["dur_s"],
        "es_bulk.write_s": wr["dur_s"],
        "es_bulk.actions": stats["actions"],
        "es_bulk.files": stats["files"],
        "es_bulk.bytes": stats["bytes"],
        "es_bulk.actions_per_file": stats["actions"] / max(1, stats["files"]),
    }
    traced_total = t.total("copy.full_pass") + t.total("copy.incremental_pass")
    untraced_total = untraced["samples"]["copy_s"][0] + untraced["samples"]["incremental_copy_s"][0]
    layers["trace.overhead_s"] = traced_total - untraced_total
    return {
        "layers": layers,
        "traced_total_s": traced_total,
        "untraced_total_s": untraced_total,
        "attempted": a + a2,
        "failed": f + f2,
        "problems": p + p2,
    }


def run(spark, seed: int, seconds: float, work: str, tracer) -> dict:
    t0 = time.monotonic()
    job = setup(spark, seed, work, tracer)
    setup_s = time.monotonic() - t0
    # a traced run times one untraced iteration, then the traced one
    m = measure(job, 0, 1) if tracer.enabled else measure(job, seconds)
    tail_pct, tail_s = tail(m["samples"]["incremental_copy_s"])
    out = {
        "setup_s": setup_s,
        "throughput_per_s": m["copy_docs_per_s"],
        "latency_p50_ms": 1000 * m["incremental_copy_s"],
        "latency_tail_ms": 1000 * tail_s,
        "tail_pct": tail_pct,
        **m,
    }
    if tracer.enabled:
        tr = traced(job, m)
        out["layers"] = tr["layers"]
        out["untraced_total_s"] = tr["untraced_total_s"]
        out["traced_total_s"] = tr["traced_total_s"]
        for k in ("attempted", "failed"):
            out[k] += tr[k]
        out["problems"] += tr["problems"]
    return out
