"""Self-tests of the benchmark's own checks and generator; no Spark.

Each output check must fail on a planted wrong result (a dropped
document, an admitted exact duplicate, a wrong aggregation bucket),
and the generator must give the same digests twice for one seed and
different ones for another.

    python3 perfbench/selftest.py          # or: python3 -m pytest perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import admission  # noqa: E402
import backfill  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import search  # noqa: E402
from harness import percentile, tail  # noqa: E402

SMALL = dict(gen.COPY, n_events=2000)


def _payload(events):
    return [(i, d, s) for d, (i, _, s) in gen.last_write_wins(events).items()]


# -- generator ------------------------------------------------------------
def test_generator_is_seeded():
    def digests(seed):
        hist: list[str] = []
        slices = [gen.admission_slice(seed, p, gen.ADMISSION, hist) for p in range(3)]
        return (
            gen.digest(gen.backfill_inputs(seed, SMALL)),
            gen.digest(slices),
            gen.digest(gen.search_bodies(seed)),
        )

    a, b, c = digests(7), digests(7), digests(8)
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_generator_shapes():
    base, delta = gen.backfill_inputs(3, SMALL)
    assert len(base) == SMALL["n_events"]
    assert len(delta) == int(SMALL["n_events"] * SMALL["delta_share"])
    assert min(e[2] for e in delta) > max(e[2] for e in base)  # delta is newer
    assert len({e[2] for e in base + delta}) == len(base + delta)  # no ts ties
    rewrites = len(base) - len({e[0] for e in base})
    assert 0.1 < rewrites / len(base) < 0.3
    families = [f for f, _ in gen.search_bodies(3)[:20]]
    assert {f: families.count(f) for f in gen.SEARCH["mix"]} == {
        f: round(20 * s) for f, s in gen.SEARCH["mix"].items()
    }


def test_last_write_wins_reference():
    events = [
        ("a", "i0", "2024-01-01T00:00:01.000001", "a1"),
        ("b", "i0", "2024-01-01T00:00:02.000001", "b1"),
        ("a", "i0", "2024-01-01T00:00:03.000001", "a2"),
    ]
    assert gen.last_write_wins(events) == {
        "a": ("i0", "2024-01-01T00:00:03.000001", "a2"),
        "b": ("i0", "2024-01-01T00:00:02.000001", "b1"),
    }


# -- backfill_copy payload check ------------------------------------------
def test_payload_check_passes_on_exact_payload():
    want = _payload(gen.backfill_inputs(1, SMALL)[0])
    assert backfill.payload_diff(want, list(reversed(want))) == (0, [])


def test_payload_check_fails_on_dropped_doc():
    want = _payload(gen.backfill_inputs(1, SMALL)[0])
    failed, problems = backfill.payload_diff(want, want[1:])
    assert failed == 1 and problems


def test_payload_check_fails_on_stale_or_duplicated_doc():
    events = gen.backfill_inputs(1, SMALL)[0]
    want = _payload(events)
    first = {}  # first-write-wins: the rewrite bug
    for d, i, _, s in events:
        first.setdefault(d, (i, d, s))
    failed, problems = backfill.payload_diff(want, list(first.values()))
    assert failed > 0 and problems
    failed, problems = backfill.payload_diff(want, want + want[:1])
    assert failed == 1 and problems


# -- admission_polls epoch check ------------------------------------------
def _epoch():
    fresh: list[str] = []
    gen.admission_slice(2, 0, gen.ADMISSION, fresh)
    rows, kinds = gen.admission_slice(2, 1, gen.ADMISSION, fresh)
    admitted = [d for (d, _), k in zip(rows, kinds) if k == "fresh"]
    text = dict(rows)
    monitor = {
        "n_seen": len(rows),
        "n_unique": len(rows),
        "n_admitted": len(admitted),
        "n_rejected": len(rows) - len(admitted),
    }
    return rows, kinds, monitor, admitted, {d: text[d] for d in admitted}


def test_epoch_check_passes_on_consistent_epoch():
    rows, kinds, monitor, admitted, bulk = _epoch()
    assert "resend" in kinds and "near_dup" in kinds
    assert admission.check_epoch(rows, kinds, monitor, admitted, bulk) == []


def test_epoch_check_fails_on_admitted_exact_duplicate():
    rows, kinds, monitor, admitted, bulk = _epoch()
    dup = next(d for (d, _), k in zip(rows, kinds) if k == "resend")
    monitor = dict(monitor, n_admitted=monitor["n_admitted"] + 1, n_rejected=monitor["n_rejected"] - 1)
    bulk = dict(bulk, **{dup: dict(rows)[dup]})
    problems = admission.check_epoch(rows, kinds, monitor, admitted + [dup], bulk)
    assert any("exact resends admitted" in p for p in problems)


def test_epoch_check_fails_on_dropped_doc():
    rows, kinds, monitor, admitted, bulk = _epoch()
    lost = admitted[0]
    assert admission.check_epoch(rows, kinds, monitor, admitted, {d: b for d, b in bulk.items() if d != lost})
    problems = admission.check_epoch(rows, kinds, monitor, admitted[1:], bulk)
    assert any("fresh documents rejected" in p for p in problems)


def test_epoch_check_fails_on_bad_counts():
    rows, kinds, monitor, admitted, bulk = _epoch()
    bad = dict(monitor, n_rejected=monitor["n_rejected"] + 1)
    assert admission.check_epoch(rows, kinds, bad, admitted, bulk)


# -- search_serving oracle -------------------------------------------------
def _table(tmp: str) -> str:
    import pandas as pd

    rows = [
        ("d1", "idx-0", "2024-01-01 01:00:00", "u1", "t1", "ok", 5, 1.5, "spark stream"),
        ("d2", "idx-0", "2024-01-01 02:00:00", "u1", "t2", "warn", 7, 2.25, "bulk index"),
        ("d3", "idx-1", "2024-01-02 03:00:00", "u2", "t1", "ok", 9, 4.0, "spark bulk"),
        ("d4", "idx-1", "2024-01-02 04:00:00", "u3", "t1", "error", 1, 0.5, "stream query"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "index_id", "ts", "user", "tag", "status", "n", "value", "text"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    path = os.path.join(tmp, "t.parquet")
    pdf.to_parquet(path)
    return path


TERMS = {
    "query": {"bool": {"filter": [{"match": {"text": "spark stream"}}]}},
    "aggs": {"by": {"terms": {"field": "tag", "size": 5}, "aggs": {"avg_value": {"avg": {"field": "value"}}}}},
}


def test_oracle_answers_by_hand():
    with tempfile.TemporaryDirectory() as tmp:
        o = oracle.DuckOracle(_table(tmp))
        # t1 holds d1, d3, d4 (all match); avg value (1.5 + 4 + 0.5) / 3
        assert o.rows(TERMS) == [("t1", 3, 2.0)]
        hits = {
            "query": {"bool": {"filter": [{"prefix": {"user": "u"}}], "must_not": [{"term": {"status": "ok"}}]}},
            "sort": [{"n": {"order": "desc"}}, {"doc_id": "asc"}],
            "size": 10,
            "_source": ["doc_id", "n"],
        }
        assert o.rows(hits) == [("d2", 7), ("d4", 1)]
        hist = {
            "query": {"bool": {"filter": [{"range": {"ts": {"gte": "2024-01-01 00:00:00", "lt": "2024-01-03 00:00:00"}}}]}},
            "aggs": {"per": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
        }
        assert o.rows(hist) == [("2024-01-01 00:00:00", 2), ("2024-01-02 00:00:00", 2)]
        collapse = {
            "query": {"bool": {"filter": [{"terms": {"status": ["ok", "warn", "error"]}}]}},
            "collapse": {"field": "user", "inner_hits": {"size": 2}},
            "sort": [{"value": {"order": "desc"}}, {"doc_id": "asc"}],
            "size": 2,
            "_source": ["doc_id", "user"],
        }
        assert o.rows(collapse) == [(1, 1, "d3", "u2"), (2, 1, "d2", "u1"), (2, 2, "d1", "u1")]
        o.close()


def test_oracle_check_fails_on_wrong_bucket():
    with tempfile.TemporaryDirectory() as tmp:
        o = oracle.DuckOracle(_table(tmp))
        assert o.check(TERMS, [("t1", 3, 2.0)]) is None
        assert o.check(TERMS, [("t1", 2, 2.0)])  # wrong doc_count
        assert o.check(TERMS, [("t2", 3, 2.0)])  # wrong key
        assert o.check(TERMS, [("t1", 3, 2.0), ("t2", 1, 2.25)])  # extra bucket
        assert o.check(TERMS, [("t1", 3, 2.01)])  # wrong metric
        o.close()


def test_oracle_rejects_unknown_queries():
    try:
        oracle.sql({"query": {"wildcard": {"user": "u*"}}, "size": 1, "sort": [], "_source": ["doc_id"]}, "t")
    except ValueError:
        return
    raise AssertionError("unknown query type translated")


def test_search_index_holds_copied_docs():
    import json

    import pyarrow.parquet as pq

    docs = gen.last_write_wins(gen.copy_events(5, dict(gen.SEARCH_INDEX, n_events=500)))
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "docs")
        search.write_index(docs, path, 3)
        assert len(os.listdir(path)) == 3
        table = pq.read_table(path).to_pylist()
    assert sorted(r["doc_id"] for r in table) == sorted(docs)
    for r in table:
        index_id, _, body = docs[r["doc_id"]]
        want = json.loads(body)
        assert r["index_id"] == index_id
        assert r["ts"].strftime(gen.BODY_TS_FMT) == want["ts"]
        assert [r[c] for c in search.COLUMNS[3:]] == [want[c] for c in search.COLUMNS[3:]]


def test_tail_percentile():
    xs = [float(i) for i in range(1, 31)]
    assert percentile(xs, 66) == 20.0  # ten samples beyond it
    ys = [float(i) for i in range(1, search.MIN_REQUESTS + 1)]
    assert len([y for y in ys if y > percentile(ys, search.TAIL_PCT)]) >= 10
    assert tail(xs) == (50, 15.0)  # p75 would have only 7 beyond it
    assert tail(sorted(xs + xs)) == (75, 23.0)  # 60 samples: 15 beyond p75
    assert tail([1.0, 2.0]) == (100, 2.0)


def main() -> int:
    failed = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok   {name}")
            except Exception as e:  # report every test, then fail
                failed += 1
                print(f"FAIL {name}: {type(e).__name__}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
