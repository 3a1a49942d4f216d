"""Independent answers for ``_search`` bodies: each body is translated
to DuckDB SQL over the same parquet files the program searches, and
the program's rows are compared with DuckDB's.

Only the body subset gen.search_bodies emits is translated; anything
else raises, so the oracle can never silently agree with nothing.
Semantics follow the documented ES behaviour the package implements:
``match`` is whitespace-analysed token membership, ``terms`` buckets
order by doc_count desc then key asc, metric values round to 4 places,
and collapse ranks groups by their best hit under the main sort.
"""

from __future__ import annotations

import datetime as dt
import math

_OPS = {"gt": ">", "gte": ">=", "lt": "<", "lte": "<="}


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return repr(v)


def _col(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def where(q: dict) -> str:
    """SQL predicate for one query-DSL node (filter context)."""
    ((kind, body),) = q.items()
    if kind == "bool":
        if set(body) - {"must", "filter", "must_not"}:
            raise ValueError(f"oracle: unsupported bool sections {sorted(body)}")
        conds = [where(c) for sec in ("must", "filter") for c in body.get(sec, [])]
        conds += [f"NOT ({where(c)})" for c in body.get("must_not", [])]
        return " AND ".join(f"({c})" for c in conds) or "TRUE"
    ((field, spec),) = body.items()
    if kind == "term":
        return f"{_col(field)} = {_lit(spec)}"
    if kind == "terms":
        return f"{_col(field)} IN ({', '.join(_lit(v) for v in spec)})"
    if kind == "range":
        return " AND ".join(f"{_col(field)} {_OPS[op]} {_lit(v)}" for op, v in spec.items())
    if kind == "prefix":
        return f"starts_with({_col(field)}, {_lit(spec)})"
    if kind == "match":
        toks = f"string_split_regex(trim({_col(field)}), '\\s+')"
        terms = [t for t in spec.lower().split() if t]
        return " OR ".join(f"list_contains({toks}, {_lit(t)})" for t in terms)
    raise ValueError(f"oracle: unsupported query {kind!r}")


def _order(body: dict) -> str:
    parts = []
    for entry in body["sort"]:
        ((field, spec),) = entry.items()
        direction = spec["order"] if isinstance(spec, dict) else spec
        parts.append(f"{_col(field)} {direction.upper()}")
    return ", ".join(parts)


_METRIC = {
    "avg": "round(round(sum({c}), 2) / count({c}) + 1e-9, 4)",
    "sum": "round(sum({c}) + 1e-9, 4)",
    "min": "min({c})",
    "max": "max({c})",
    "value_count": "count({c})",
    "cardinality": "count(DISTINCT {c})",
}


def _subs(aggs: dict) -> str:
    out = []
    for name, spec in aggs.items():
        ((family, fbody),) = spec.items()
        out.append(_METRIC[family].format(c=_col(fbody["field"])) + f" AS {_col(name)}")
    return "".join(", " + s for s in out)


def sql(body: dict, table: str) -> str:
    """DuckDB SQL giving the rows, in order, the body must return."""
    w = where(body["query"]) if "query" in body else "TRUE"
    if "collapse" in body:
        key = _col(body["collapse"]["field"])
        k = int(body["collapse"]["inner_hits"].get("size", 1))
        order = _order(body)
        cols = ", ".join(f"r.{_col(c)}" for c in body["_source"])
        return f"""
            WITH ranked AS (
              SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY {order}) AS inner_rank
              FROM {table} WHERE {w}),
            top AS (
              SELECT * FROM ranked WHERE inner_rank = 1 ORDER BY {order} LIMIT {int(body.get('size', 10))}),
            reps AS (SELECT {key} AS ck, row_number() OVER (ORDER BY {order}) AS group_rank FROM top)
            SELECT reps.group_rank, r.inner_rank, {cols}
            FROM ranked r JOIN reps ON r.{key} = reps.ck
            WHERE r.inner_rank <= {k}
            ORDER BY reps.group_rank, r.inner_rank"""
    if "aggs" in body:
        ((_, spec),) = body["aggs"].items()
        subs = _subs(spec.get("aggs", {}))
        if "terms" in spec:
            f = spec["terms"]
            return (
                f"SELECT {_col(f['field'])} AS key, count(*) AS doc_count{subs} FROM {table} "
                f"WHERE {w} GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT {int(f.get('size', 10))}"
            )
        if "date_histogram" in spec:
            f = spec["date_histogram"]
            interval = f["calendar_interval"]
            return (
                f"SELECT strftime(date_trunc('{interval}', {_col(f['field'])}), '%Y-%m-%d %H:%M:%S') AS key, "
                f"count(*) AS doc_count{subs} FROM {table} WHERE {w} GROUP BY 1 ORDER BY key"
            )
        raise ValueError(f"oracle: unsupported aggregation {sorted(spec)}")
    cols = ", ".join(_col(c) for c in body["_source"])
    return f"SELECT {cols} FROM {table} WHERE {w} ORDER BY {_order(body)} LIMIT {int(body.get('size', 10))}"


def norm(v):
    """One comparable form for values from either engine: timestamps
    as UTC wall-clock strings, numbers as floats."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    return float(v)


def same_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal (floats within 2e-4: both sides round to 4
    places, so a half-way sum may land one unit apart); else why not."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"row {i}: {len(g)} columns, expected {len(w)}"
        for a, b in zip(map(norm, g), map(norm, w)):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=2e-4):
                    return f"row {i}: {g} != {w}"
            elif a != b:
                return f"row {i}: {g} != {w}"
    return None


class DuckOracle:
    def __init__(self, parquet_glob: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 1")
        self.table = f"read_parquet('{parquet_glob}')"

    def rows(self, body: dict) -> list[tuple]:
        return self.con.execute(sql(body, self.table)).fetchall()

    def check(self, body: dict, got: list[tuple]) -> str | None:
        return same_rows(got, self.rows(body))

    def close(self) -> None:
        self.con.close()
