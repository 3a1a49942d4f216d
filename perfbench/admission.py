"""admission_polls: the streaming capstone at small batch grain.

Seeded text slices (fresh documents, planted near duplicates, exact
resends) are appended to the scroll shards one poll at a time, and
each poll runs ``stream_scroll_ingest_pipeline`` (availableNow) on ONE
work dir, so the signature store grows poll over poll. Poll 0 pays
the stream warm-up and belongs to set-up, not to the latency samples.

Poll latency runs from the slice append until the epoch's bulk
manifest and accepted version are both on disk.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd

import gen
from harness import median, tail

#: an epoch slower than this fails the poll (a run must end in 180 s)
POLL_TIMEOUT_S = 120


def _scroll_lines(rows) -> list[str]:
    """Admission texts as scroll events: one index, one fixed ts."""
    return gen.scroll_lines((d, "docs", "2024-01-01T00:00:00.000000", text) for d, text in rows)


class Stream:
    def __init__(self, spark, seed: int, work: str, tracer, params: dict = gen.ADMISSION):
        self.spark = spark
        self.seed = seed
        self.params = params
        self.tracer = tracer
        self.index = os.path.join(work, "index")
        self.work = os.path.join(work, "pipeline")
        os.makedirs(self.index, exist_ok=True)
        self.shards = [os.path.join(self.index, f"shard-{i}.jsonl") for i in range(params["n_shards"])]
        for s in self.shards:
            open(s, "w").close()
        self.fresh_texts: list[str] = []
        self.slices: list[tuple[list, list]] = []  # per poll (rows, kinds)
        self.epochs: list[int | None] = []  # epoch id of each poll
        self.last_run_id = ""  # streaming query run id of the last poll

    def next_slice(self):
        rows, kinds = gen.admission_slice(self.seed, len(self.slices), self.params, self.fresh_texts)
        self.slices.append((rows, kinds))
        return rows

    def append(self, rows) -> None:
        handles = [open(s, "a", encoding="utf-8") for s in self.shards]
        try:
            for i, line in enumerate(_scroll_lines(rows)):
                handles[i % len(handles)].write(line)
        finally:
            for h in handles:
                h.close()

    def _monitor_epochs(self) -> set[int]:
        mon = os.path.join(self.work, "monitor")
        if not os.path.isdir(mon):
            return set()
        return {int(d.split("=", 1)[1]) for d in os.listdir(mon) if d.startswith("batch=")}

    def poll(self) -> tuple[float, int | None, str | None]:
        """Append the next slice and run one availableNow epoch.
        Returns (latency, epoch id, problem)."""
        from pyspark.errors import StreamingQueryException

        from flink_elasticsearch_ingestion_spark.streaming.pipeline import stream_scroll_ingest_pipeline

        rows = self.next_slice()
        before = self._monitor_epochs()
        t0 = time.monotonic()
        self.append(rows)
        q = stream_scroll_ingest_pipeline(self.spark, self.index, self.work)
        self.last_run_id = str(q.runId)
        try:
            if not q.awaitTermination(POLL_TIMEOUT_S):
                q.stop()
                return time.monotonic() - t0, None, f"poll did not finish in {POLL_TIMEOUT_S} s"
        except StreamingQueryException as e:
            return time.monotonic() - t0, None, f"stream failed: {str(e)[:300]}"
        new = sorted(self._monitor_epochs() - before)
        epoch = new[0] if len(new) == 1 else None
        visible = epoch is not None and self._visible(epoch)
        latency = time.monotonic() - t0
        if epoch is None:
            return latency, None, f"poll {len(self.slices) - 1} committed epochs {new}, expected one"
        if not visible:
            return latency, epoch, f"epoch {epoch}: bulk manifest or accepted version missing"
        return latency, epoch, None

    def _visible(self, epoch: int) -> bool:
        bulk = os.path.join(self.work, "bulk", f"batch={epoch}")
        manifest = os.path.isdir(bulk) and any(f.startswith("_MANIFEST") for f in os.listdir(bulk))
        version = os.path.join(self.work, "accepted", "_versions", f"{epoch:08d}.json")
        return manifest and os.path.exists(version)

    # -- outputs, read from disk without Spark ------------------------------
    def monitor_row(self, epoch: int) -> dict:
        df = pd.read_parquet(os.path.join(self.work, "monitor", f"batch={epoch}"))
        return df.iloc[0].to_dict()

    def accepted_ids(self, epoch: int) -> list[str]:
        """Ids this epoch's version added (its manifest's own delta)."""
        root = os.path.join(self.work, "accepted")
        with open(os.path.join(root, "_versions", f"{epoch:08d}.json")) as fh:
            added = json.load(fh)["added"]
        return [i for rel in added for i in pd.read_parquet(os.path.join(root, rel))["doc_id"]]

    def bulk_docs(self, epoch: int) -> dict[str, str]:
        from flink_elasticsearch_ingestion_spark.sources.es_bulk import read_bulk_payload

        return {a["index"]["_id"]: body for a, body in read_bulk_payload(os.path.join(self.work, "bulk", f"batch={epoch}"))}

    def check_poll(self, i: int, epoch: int) -> list[str]:
        rows, kinds = self.slices[i]
        return check_epoch(rows, kinds, self.monitor_row(epoch), self.accepted_ids(epoch), self.bulk_docs(epoch))


def check_epoch(rows, kinds, monitor: dict, accepted: list[str], bulk: dict[str, str]) -> list[str]:
    """Output checks for one epoch; returns the problems found.

    - arrived = admitted + rejected, and every arrival was seen;
    - every exact resend is rejected and every fresh document admitted
      (planted duplicates copy fresh texts only, see gen.admission_slice);
    - the bulk payload holds exactly the accepted ids, with their text.
    """
    problems = []
    n = len(rows)
    if monitor["n_seen"] != n or monitor["n_unique"] != n:
        problems.append(f"monitor saw {monitor['n_seen']}/{monitor['n_unique']} of {n} arrivals")
    if monitor["n_admitted"] + monitor["n_rejected"] != monitor["n_unique"]:
        problems.append("admitted + rejected != arrived")
    if monitor["n_admitted"] != len(accepted):
        problems.append(f"monitor admitted {monitor['n_admitted']}, version holds {len(accepted)}")
    acc = set(accepted)
    if len(acc) != len(accepted):
        problems.append("accepted version holds duplicate ids")
    text = dict(rows)
    kind = dict(zip((r[0] for r in rows), kinds))
    if acc - set(text):
        problems.append(f"{len(acc - set(text))} accepted ids never arrived in this slice")
    resent = [d for d in acc if kind.get(d) == "resend"]
    if resent:
        problems.append(f"{len(resent)} exact resends admitted, e.g. {sorted(resent)[:3]}")
    lost = [d for d, k in kind.items() if k == "fresh" and d not in acc]
    if lost:
        problems.append(f"{len(lost)} fresh documents rejected, e.g. {sorted(lost)[:3]}")
    if set(bulk) != acc:
        problems.append(f"bulk ids differ from accepted ids ({len(set(bulk) ^ acc)} differ)")
    elif any(bulk[d] != text.get(d) for d in acc):
        problems.append("bulk body differs from the arrived text")
    return problems


def cross_check(spark, stream: Stream) -> list[str]:
    """Per-poll admissions equal ``multi_poll_admission`` (the batch
    replay of the same sequential admission) over the same slices.
    Ids are renumbered ``poll + n_polls * j`` to match the replay's
    ``doc_id % n_polls`` slicing; order within a slice is kept, which
    is all the greedy-by-id policy depends on."""
    from flink_elasticsearch_ingestion_spark.streaming.pipeline import multi_poll_admission

    n = len(stream.slices)
    rows = [
        (p + n * j, text, len(text))
        for p, (sl, _) in enumerate(stream.slices)
        for j, (_, text) in enumerate(sl)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    replay = {r["poll"]: r["n_admitted"] for r in multi_poll_admission(docs, n_polls=n).collect()}
    got = {p: int(stream.monitor_row(e)["n_admitted"]) for p, e in enumerate(stream.epochs) if e is not None}
    if replay != got:
        return [f"per-poll admissions {got} != multi_poll_admission {replay}"]
    return []


def replay_epoch(spark, stream: Stream, poll: int, epoch: int, out: str) -> dict:
    """Re-run one epoch through the same public functions in the
    pipeline's order (last_wins, signatures, admit_batch,
    VersionedTable.commit, es_bulk write), each in its own span, into
    a scratch directory. The store is the signature-store epochs
    before ``epoch``, read as the pipeline reads them."""
    from pyspark.sql import functions as F

    from flink_elasticsearch_ingestion_spark.operators.copy import last_wins
    from flink_elasticsearch_ingestion_spark.operators.dedup import minhash_signature_table
    from flink_elasticsearch_ingestion_spark.sources.es_scroll import scroll_read
    from flink_elasticsearch_ingestion_spark.sources.versioned import VersionedTable
    from flink_elasticsearch_ingestion_spark.streaming.pipeline import admit_batch

    t = stream.tracer
    rows, _ = stream.slices[poll]
    idx = os.path.join(out, "index")
    os.makedirs(idx, exist_ok=True)
    with open(os.path.join(idx, "shard-0.jsonl"), "w") as fh:
        fh.writelines(_scroll_lines(rows))
    store_dir = os.path.join(stream.work, "sigstore")
    prior = sorted(
        os.path.join(store_dir, d)
        for d in os.listdir(store_dir)
        if d.startswith("batch=") and int(d.split("=", 1)[1]) < epoch
    )
    res = {"store_epochs_read": len(prior)}
    with t.span("pipeline.replay"):
        with t.span("es_scroll.scan", kind="replay"):
            batch = scroll_read(spark, idx).persist()
            batch.count()
        with t.span("copy.last_wins", kind="replay"):
            docs = last_wins(batch).withColumn("n_chars", F.length("source").cast("bigint")).persist()
            res["arrived"] = docs.count()
        store = spark.read.parquet(*prior) if prior else None
        res["store_rows"] = store.count() if store is not None else 0
        with t.span("dedup.signature"):
            sigs = minhash_signature_table(docs, portable=True, text_col="source").persist()
            sigs.count()
        with t.span("dedup.incremental"):
            survivors, _, drop, admit_sigs = admit_batch(
                spark, docs, store, text_col="source", batch_sigs=sigs
            )
            survivors = survivors.persist()
            res["admitted"] = survivors.count()
            res["pairs_found"] = drop.count()
        table = VersionedTable(spark, os.path.join(out, "accepted"))
        with t.span("versioned.commit"):
            table.commit(survivors.drop("n_chars"), version=epoch)
        res["versions"] = len(table.versions())
        with t.span("es_bulk.write", kind="replay"):
            (
                survivors.select("doc_id", "index_id", "source")
                .write.format("es_bulk")
                .mode("overwrite")
                .option("path", os.path.join(out, "bulk"))
                .save()
            )
        for df in (admit_sigs, sigs, survivors, docs, batch):
            df.unpersist()
    return res


def run(spark, seed: int, seconds: float, work: str, tracer) -> dict:
    t0 = time.monotonic()
    stream = Stream(spark, seed, work, tracer)
    problems: list[str] = []
    failed = 0

    def one_poll() -> float:
        nonlocal failed
        latency, epoch, problem = stream.poll()
        stream.epochs.append(epoch)
        found = [problem] if problem else stream.check_poll(len(stream.slices) - 1, epoch)
        if found:
            failed += 1
            problems.extend(f"poll {len(stream.slices) - 1}: {p}" for p in found)
        return latency

    with tracer.span("setup.poll0"):
        poll0 = one_poll()
    setup_s = time.monotonic() - t0
    out = {
        "setup_s": setup_s,
        "samples": {"poll0_s": poll0},
        "attempted": len(stream.slices),
        "failed": failed,
        "problems": problems,
    }
    if not tracer.enabled:
        latencies = []
        t_end = time.monotonic() + seconds
        while not latencies or time.monotonic() < t_end:
            latencies.append(one_poll())
        arrivals = stream.params["slice_docs"] * len(latencies)
        q, tail_v = tail(latencies)
        out.update(
            throughput_per_s=arrivals / sum(latencies),
            latency_p50_ms=1000 * median(latencies),
            latency_tail_ms=1000 * tail_v,
            tail_pct=q,
            attempted=len(stream.slices),
            failed=failed,
        )
        out["samples"]["poll_s"] = latencies
    else:
        out["layers"], found = traced(spark, stream, work)
        out["attempted"] = len(stream.slices)
        out["failed"] += 1 if found else 0
        out["problems"] += found
    return out


def traced(spark, stream: Stream, work: str) -> tuple[dict, list[str]]:
    """One traced poll (the epoch's jobs/stages/tasks from the stream's
    job group), then its replay through the public functions, then the
    cross-check. Returns (layer metrics, problems).

    The poll runs the pipeline unchanged inside one span, so tracing
    adds nothing to it and no untraced twin is timed; the replay is
    separate work, timed on its own."""
    from harness import Tracker

    t = stream.tracer
    with t.span("pipeline.epoch") as sp:
        latency, epoch, problem = stream.poll()
    stream.epochs.append(epoch)
    poll = len(stream.slices) - 1
    if epoch is None:
        return {}, [f"traced poll {poll}: {problem}"]
    found = [problem] if problem else stream.check_poll(poll, epoch)
    counts = Tracker(spark.sparkContext).counts(stream.last_run_id)
    mon = stream.monitor_row(epoch)
    res = replay_epoch(spark, stream, poll, epoch, os.path.join(work, "replay"))
    replay_id = t.named("pipeline.replay")[-1]["id"]
    replayed = sum(s["dur_s"] for s in t.spans if s["parent"] == replay_id)
    cross = cross_check(spark, stream)
    layers = {
        "pipeline.epoch_s": sp["dur_s"],
        "pipeline.jobs_per_epoch": counts["jobs"],
        "pipeline.stages_per_epoch": counts["stages"],
        "pipeline.tasks_per_epoch": counts["tasks"],
        "pipeline.admit_ratio": mon["n_admitted"] / max(1, mon["n_unique"]),
        "pipeline.store_epochs_read": res["store_epochs_read"],
        "pipeline.unplaced_s": sp["dur_s"] - replayed,
        "dedup.signature_s": t.named("dedup.signature")[-1]["dur_s"],
        "dedup.incremental_s": t.named("dedup.incremental")[-1]["dur_s"],
        "dedup.store_rows": res["store_rows"],
        "dedup.pairs_found": res["pairs_found"],
        "versioned.commit_s": t.named("versioned.commit")[-1]["dur_s"],
        "versioned.versions": len(os.listdir(os.path.join(stream.work, "accepted", "_versions"))),
        "es_bulk.write_s": [s for s in t.named("es_bulk.write") if s.get("kind") == "replay"][-1]["dur_s"],
        "copy.last_wins_s": [s for s in t.named("copy.last_wins") if s.get("kind") == "replay"][-1]["dur_s"],
    }
    if res["admitted"] != mon["n_admitted"]:
        found.append(f"replay admitted {res['admitted']}, epoch {mon['n_admitted']}")
    return layers, [f"traced poll {poll}: {p}" for p in found] + cross
