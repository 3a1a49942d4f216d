"""Seeded input generator for the ingestion benchmark.

Everything the program under test receives is made here from the
workload seed and the fixed parameters below; the program only ever
sees the files this module's output is staged into. Only the standard
library is used, so the same seed gives byte-identical inputs on any
host (``digest`` proves it).

Parameters are fixed per workload so that figures from different seeds
compare: the seed changes content (ids, bodies, which documents are
rewrites or planted duplicates, which search bodies are sent), never
sizes or shares.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random

# Traffic shape. No measured trace of the reference job's traffic
# exists in the repository or in a cited source, so every share and
# spread below is an UNVERIFIED ASSUMPTION, chosen for the reason given
# beside it. Sizes (event counts, slice size, shard counts) are chosen
# to fit the run budget. README.md repeats the list; each run's report
# line records the values it ran with (``params``).

#: backfill_copy: the reference's copy job at bulk grain (its output is
#: also the index search_serving queries)
COPY = {
    "n_events": 100_000,  # size: a warm pass takes ~5 s on a 4-core host
    "n_indexes": 6,  # assumed: "a handful of index_ids"
    # assumed: a Zipf-like skew so one index dominates, as hot indexes
    # do in log-style traffic; 1.6 gives the largest index ~55 %
    "index_skew": 1.6,
    # assumed: "a few hundred bytes" of JSON per document
    "body_bytes": (200, 600),
    # assumed: one event in five updates an earlier doc, enough that
    # last_wins removes a visible share without dominating the copy
    "rewrite_share": 0.2,
    "delta_share": 0.05,  # size: a small incremental slice
    "n_shards": 4,  # es_scroll JSONL shard files, one per core
    "step_s": 25,  # seconds between events: 100k events span ~29 days
}

#: admission_polls: the streaming capstone at small batch grain
ADMISSION = {
    "slice_docs": 200,  # size: near the 250-doc polls SCALE.md round 9 measured
    "tokens": (40, 80),  # assumed: short paragraphs
    "vocab": 5000,  # assumed: unrelated fresh texts share few shingles
    # assumed: planted near duplicates and exact resends at shares
    # that give dedup work every epoch without rejecting most arrivals
    "near_dup_share": 0.15,
    "near_dup_edits": (1, 3),  # assumed: small edits, well inside the LSH threshold
    "resend_share": 0.1,
    "n_shards": 2,
}

#: search_serving: the copied index it serves, the copy job's expected
#: output over events of the backfill's shape (smaller, so set-up stays
#: short) and the _search bodies sent
SEARCH_INDEX = dict(COPY, n_events=10_000, step_s=250)  # also ~29 days
SEARCH = {
    # assumed: body families and their shares of the request mix.
    # Filtered hits lead, as in a search front end; aggregations and
    # collapse are the rest, each often enough (>= 3 per 60 requests)
    # for its own per-family median. Hits, the fastest family, take
    # 70 %, so the median request falls well inside them: with hits
    # near half the mix it would sit at the edge between hits and
    # aggregations and jump between the two from run to run
    "mix": {"hits": 0.7, "terms": 0.14, "date_histogram": 0.06, "collapse": 0.1},
    "n_bodies": 4000,  # request sequence length (more than any run sends)
    "n_indexes": COPY["n_indexes"],
}

BASE_TS = dt.datetime(2024, 1, 1)
BODY_TS_FMT = "%Y-%m-%d %H:%M:%S"

_WORDS = (
    "spark stream index scroll bulk merge vector shard commit epoch batch "
    "query search filter range term match prefix token signature store "
    "manifest version snapshot checkpoint offset replay upsert document "
    "field value bucket histogram collapse inner hits sort size agg"
).split()
TAGS = [f"t{i:02d}" for i in range(40)]
STATUSES = ["ok", "warn", "error", "retry", "skip"]
N_USERS = 2000
N_DAYS = 30
FILTERS_PER_QUERY = (1, 3)  # bool filter clauses drawn per search body
MUST_NOT_SHARE = 0.3  # search bodies that also carry a must_not clause


def params() -> dict:
    """Every generator value, for the run's report line."""
    return {
        "copy": COPY,
        "admission": ADMISSION,
        "search_index": SEARCH_INDEX,
        "search": SEARCH,
        "fields": {"tags": len(TAGS), "statuses": len(STATUSES), "users": N_USERS, "days": N_DAYS},
        "query": {"filters": FILTERS_PER_QUERY, "must_not_share": MUST_NOT_SHARE},
    }


def index_names(n: int) -> list[str]:
    return [f"idx-{i}" for i in range(n)]


def _weights(n: int, skew: float) -> list[float]:
    return [1.0 / (i + 1) ** skew for i in range(n)]


def _word_pool(rng: random.Random, n: int = 1 << 16) -> list[str]:
    """A seeded word stream; bodies take windows of it, which is far
    cheaper than drawing every word of every body."""
    return rng.choices(_WORDS, k=n)


def _body(rng: random.Random, pool: list[str], ts: str, size: int) -> str:
    """One JSON document body of roughly ``size`` bytes: keyword,
    numeric and timestamp fields plus analyzed ``text`` filling the
    rest. Built by hand (every value is JSON-safe by construction);
    ``json.dumps`` per body made generation several times slower."""
    r = rng.random  # int(r() * n) draws in range(n), far cheaper than randrange
    head = (
        f'{{"ts":"{ts}","user":"u{int(r() * N_USERS):04d}",'
        f'"tag":"{TAGS[int(r() * len(TAGS))]}",'
        f'"status":"{STATUSES[int(r() * len(STATUSES))]}",'
        f'"n":{int(r() * 1000)},"value":{int(r() * 100_000) / 100},"text":"'
    )
    words = max(1, (size - len(head) - 2) // 6)
    at = int(r() * (len(pool) - words))
    return head + " ".join(pool[at : at + words]) + '"}'


def copy_events(seed: int, params: dict) -> list[tuple[str, str, str, str]]:
    """Scroll events ``(doc_id, index_id, ts, source)`` in arrival order.

    Event ``k`` is stamped ``BASE_TS + k * step_s`` seconds plus a
    seeded sub-step offset, so every event's ts is distinct and later
    events are newer: last-write-wins has no ties. With probability
    ``rewrite_share`` an event re-sends an earlier doc_id (same index,
    newer ts, new body).
    """
    rng = random.Random(f"copy:{seed}")
    pool = _word_pool(rng)
    names = index_names(params["n_indexes"])
    weights = _weights(len(names), params["index_skew"])
    issued: list[tuple[str, str]] = []
    out = []
    for k in range(params["n_events"]):
        if issued and rng.random() < params["rewrite_share"]:
            doc_id, index_id = issued[int(rng.random() * len(issued))]
        else:
            doc_id, index_id = f"{len(issued):09d}", rng.choices(names, weights)[0]
            issued.append((doc_id, index_id))
        out.append(_event(rng, pool, params, k, doc_id, index_id))
    return out


def _event(rng, pool, params: dict, k: int, doc_id: str, index_id: str):
    step = params["step_s"]
    ts = BASE_TS + dt.timedelta(
        seconds=k * step, microseconds=1 + int(rng.random() * (step * 1_000_000 - 1))
    )
    iso = ts.isoformat(timespec="microseconds")
    lo, hi = params["body_bytes"]
    size = lo + int(rng.random() * (hi - lo + 1))
    return (doc_id, index_id, iso, _body(rng, pool, iso[:19].replace("T", " "), size))


def backfill_inputs(seed: int, params: dict = COPY):
    """(base events, delta events). The delta is newer than every base
    event and mixes new doc ids with rewrites of base doc ids."""
    base = copy_events(seed, params)
    doc_index = {doc_id: index_id for doc_id, index_id, _, _ in base}
    n_delta = int(params["n_events"] * params["delta_share"])
    rng = random.Random(f"delta:{seed}")
    pool = _word_pool(rng)
    names = index_names(params["n_indexes"])
    weights = _weights(len(names), params["index_skew"])
    delta = []
    next_doc = len(doc_index)
    base_ids = sorted(doc_index)
    for k in range(params["n_events"], params["n_events"] + n_delta):
        if rng.random() < params["rewrite_share"]:
            doc_id = base_ids[int(rng.random() * len(base_ids))]
            index_id = doc_index[doc_id]
        else:
            doc_id = f"{next_doc:09d}"
            next_doc += 1
            index_id = rng.choices(names, weights)[0]
        delta.append(_event(rng, pool, params, k, doc_id, index_id))
    return base, delta


def scroll_lines(events) -> list[str]:
    """Events as ``es_scroll`` JSONL shard lines, the format
    ``write_index_shards`` writes."""
    return [
        json.dumps({"doc_id": d, "index_id": i, "ts": t, "source": s}) + "\n"
        for d, i, t, s in events
    ]


def last_write_wins(events) -> dict[str, tuple[str, str, str]]:
    """Reference upsert semantics in plain Python: per doc_id, the
    event with the greatest ts (ts are distinct by construction)."""
    best: dict[str, tuple[str, str, str]] = {}
    for doc_id, index_id, ts, source in events:
        cur = best.get(doc_id)
        if cur is None or ts > cur[1]:
            best[doc_id] = (index_id, ts, source)
    return best


def admission_slice(seed: int, poll: int, params: dict, fresh: list[str]):
    """One poll's arrivals: ``(rows, kinds)`` with rows ``(doc_id,
    text)`` and kinds ``fresh`` / ``near_dup`` / ``resend``.

    Doc ids are ``poll + 4096 * j`` rendered fixed-width, so ids within
    a slice ascend in generation order and string order equals numeric
    order (unique while there are fewer than 4096 polls). Planted
    duplicates copy only FRESH texts of earlier polls or earlier in
    this slice (``fresh``, appended to in place): a fresh text is
    always admitted, so its exact resend must always be rejected,
    whatever happened to other planted duplicates. A resend repeats
    the text under a new id; a near duplicate changes
    ``near_dup_edits`` of its words.
    """
    rng = random.Random(f"admit:{seed}:{poll}")
    lo, hi = params["tokens"]
    vocab = params["vocab"]
    rows, kinds = [], []
    for j in range(params["slice_docs"]):
        doc_id = f"{poll + 4096 * j:09d}"
        r = rng.random()
        if fresh and r < params["resend_share"]:
            text, kind = fresh[rng.randrange(len(fresh))], "resend"
        elif fresh and r < params["resend_share"] + params["near_dup_share"]:
            words = fresh[rng.randrange(len(fresh))].split()
            for _ in range(rng.randint(*params["near_dup_edits"])):
                words[rng.randrange(len(words))] = f"x{rng.randrange(vocab)}"
            text, kind = " ".join(words), "near_dup"
        else:
            text = " ".join(f"w{rng.randrange(vocab)}" for _ in range(rng.randint(lo, hi)))
            kind = "fresh"
            fresh.append(text)
        rows.append((doc_id, text))
        kinds.append(kind)
    return rows, kinds


def search_bodies(seed: int, params: dict = SEARCH) -> list[tuple[str, dict]]:
    """The request sequence: ``(family, body)`` pairs. Families follow
    a fixed smooth interleaving of the mix (weighted round robin), so
    every prefix of the sequence holds the mix's shares to within one
    request per family and a run's latency percentiles do not move
    with the seed's family draw. Each body's shape (filter clauses,
    sort, agg field, sizes) is dealt from per-family ``_Deck``s for the
    same reason; the seed orders the decks and draws every value.
    Every sort ends on ``doc_id`` so hit order is total."""
    rng = random.Random(f"search:{seed}")
    deck = _Deck(rng)
    mix = params["mix"]
    names = index_names(params["n_indexes"])
    sent = dict.fromkeys(mix, 0)
    out = []
    for i in range(params["n_bodies"]):
        family = max(mix, key=lambda f: mix[f] * (i + 1) - sent[f])
        sent[family] += 1
        out.append((family, _search_body(rng, deck, family, names)))
    return out


class _Deck:
    """Balanced draws. Each named choice deals its options from a
    seeded shuffle and reshuffles when all are dealt, so any run of
    draws holds every option equally often, to within about one per
    option. Drawn at random instead, a 60-request run could send, say,
    four terms aggs over 2,000 users or none, and its latency
    percentiles moved with the seed (IQR/median 0.16 over ten runs for
    p80 on a 4-core host, most of it between seeds)."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.decks: dict[str, list] = {}

    def draw(self, key: str, options: list):
        deck = self.decks.get(key)
        if not deck:
            deck = self.decks[key] = list(options)
            self.rng.shuffle(deck)
        return deck.pop()

    def draw_distinct(self, key: str, options: list, k: int) -> list:
        """``k`` different options; a repeat across a reshuffle is put
        back on the deck for a later draw."""
        out: list = []
        while len(out) < k:
            x = self.draw(key, options)
            if x in out:
                self.decks[key].insert(0, x)
            else:
                out.append(x)
        return out


CLAUSES = ["index_id", "status", "n", "ts", "text", "user", "tag"]


def _clause(rng: random.Random, kind: str, names: list[str]) -> dict:
    if kind == "index_id":
        return {"term": {"index_id": rng.choice(names)}}
    if kind == "status":
        return {"terms": {"status": rng.sample(STATUSES, 2)}}
    if kind == "n":
        return {"range": {"n": {"gte": rng.randrange(500), "lt": 500 + rng.randrange(500)}}}
    if kind == "ts":
        day = rng.randrange(N_DAYS - 3)
        lo_ts = (BASE_TS + dt.timedelta(days=day)).strftime(BODY_TS_FMT)
        hi_ts = (BASE_TS + dt.timedelta(days=day + rng.randint(1, 3))).strftime(BODY_TS_FMT)
        return {"range": {"ts": {"gte": lo_ts, "lt": hi_ts}}}
    if kind == "text":
        return {"match": {"text": " ".join(rng.sample(_WORDS, 2))}}
    if kind == "user":
        return {"prefix": {"user": f"u{rng.randrange(10)}"}}
    return {"terms": {"tag": rng.sample(TAGS, 8)}}


def _query(rng: random.Random, deck: _Deck, family: str, names: list[str]) -> dict:
    """A bool query over the decoded fields: keyword term/terms,
    numeric and date ranges, analyzed match, keyword prefix."""
    lo, hi = FILTERS_PER_QUERY
    k = deck.draw(f"{family}.n_filters", list(range(lo, hi + 1)))
    kinds = deck.draw_distinct(f"{family}.filters", CLAUSES, k)
    body: dict = {"filter": [_clause(rng, kind, names) for kind in kinds]}
    n_not = round(10 * MUST_NOT_SHARE)
    if deck.draw(f"{family}.must_not", [True] * n_not + [False] * (10 - n_not)):
        body["must_not"] = [{"term": {"status": rng.choice(STATUSES)}}]
    return {"bool": body}


def _search_body(rng: random.Random, deck: _Deck, family: str, names: list[str]) -> dict:
    query = _query(rng, deck, family, names)
    if family == "hits":
        field, order = deck.draw("hits.sort", [("n", "desc"), ("value", "asc"), ("ts", "desc")])
        return {
            "query": query,
            "sort": [{field: {"order": order}}, {"doc_id": "asc"}],
            "size": deck.draw("hits.size", [10, 20, 50]),
            "_source": ["doc_id", "index_id", "user", field],
        }
    if family == "terms":
        field = deck.draw("terms.field", ["tag", "user", "index_id", "status"])
        sub = deck.draw_distinct(
            "terms.sub",
            [
                ("avg_value", {"avg": {"field": "value"}}),
                ("max_n", {"max": {"field": "n"}}),
                ("sum_value", {"sum": {"field": "value"}}),
                ("users", {"cardinality": {"field": "user"}}),
                ("min_n", {"min": {"field": "n"}}),
            ],
            2,
        )
        return {
            "query": query,
            "aggs": {
                "by_key": {
                    "terms": {"field": field, "size": deck.draw("terms.size", [5, 10, 20])},
                    "aggs": dict(sub),
                }
            },
        }
    if family == "date_histogram":
        return {
            "query": query,
            "aggs": {
                "per": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": deck.draw("date_histogram.interval", ["day", "hour"]),
                    },
                    "aggs": {"avg_value": {"avg": {"field": "value"}}},
                }
            },
        }
    key = deck.draw("collapse.key", ["user", "tag"])
    return {
        "query": query,
        "collapse": {"field": key, "inner_hits": {"size": deck.draw("collapse.inner", [1, 2, 3])}},
        "sort": [{"value": {"order": "desc"}}, {"doc_id": "asc"}],
        "size": deck.draw("collapse.size", [5, 10]),
        "_source": ["doc_id", key, "value"],
    }


def digest(obj) -> str:
    """Stable content digest of any JSON-serialisable input."""
    return hashlib.sha256(
        json.dumps(obj, separators=(",", ":"), sort_keys=True).encode()
    ).hexdigest()
