"""Correctness check, run after the timed region.

Every output the program served is recomputed in DuckDB from the same
generated files, apart from the program:

- dashboard_gateway: each first response is compared, as a multiset of
  rows, with the DuckDB oracle of its dashboard shape (the catalogue's
  `SparkEntry.oracleSql` for that gate) over a view of the table with the
  variant's filter applied. Repeat GETs were compared byte for byte with
  the first response inside the run.
- stream_events: the `filter` sink must hold exactly the filtered rows of
  the union of appended files; the `window` sink exactly the windows that
  the final watermark (the largest event time seen) has closed.

Cells are compared as the repo's oracle check does: exact values, floats
by their repr, dates and timestamps by their ISO text, NULL as None.
"""
import collections
import datetime
import decimal
import json
import math
import os

import duckdb


def cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def multiset(rows):
    return sorted(rows, key=lambda r: tuple((x is None, x or "") for x in r))


def check_gateway(data, work):
    """Returns (checked, mismatched names)."""
    oracles = json.load(open(os.path.join(work, "oracles.json")))
    con = duckdb.connect()
    con.sql("SET threads=2")
    bad, n = [], 0
    for line in open(os.path.join(work, "manifest.jsonl")):
        e = json.loads(line)
        table, key = (("documents", "doc_id") if e["shape"] == "dedup_unigram"
                      else ("events", "user_id"))
        where = f"NOT ({key} % {e['m']} = {e['r']})" if e["m"] else "true"
        view = (f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM "
                f"'{data}/{table}.parquet' WHERE {where}")
        con.sql(view)
        *narrow, last = oracles[e["shape"]]
        for sql in narrow:
            con.sql(f"CREATE OR REPLACE TEMP TABLE keep AS "
                    f"SELECT doc_id FROM ({sql})")
            con.sql(view + " AND doc_id IN (SELECT doc_id FROM keep)")
        rel = con.sql(last)
        cols = rel.columns
        want = multiset([tuple(cell(v) for v in r) for r in rel.fetchall()])
        body = json.load(open(os.path.join(work, "responses", e["file"])))
        got = multiset([tuple(cell(o.get(c)) for c in cols) for o in body])
        n += 1
        if got != want:
            bad.append(e["name"])
    return n, bad


def check_stream(work):
    """Returns (mismatched filter rows, mismatched window rows, expected
    filter rows, expected window rows)."""
    m = json.loads(open(os.path.join(work, "manifest.jsonl")).readline())
    con = duckdb.connect()
    con.sql("SET threads=2")
    files = ", ".join(f"'{f}'" for f in m["files"])
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")

    def rows(sql):
        return multiset([tuple(cell(v) for v in r)
                         for r in con.sql(sql).fetchall()])

    def diff(a, b):
        ca, cb = collections.Counter(a), collections.Counter(b)
        return sum(((ca - cb) + (cb - ca)).values())

    sink = m["sinks"]
    want_f = rows("SELECT event_id, ts, user_id, event_type, value "
                  "FROM events WHERE value >= 100")
    got_f = rows("SELECT event_id, ts, user_id, event_type, value FROM "
                 f"'{sink['filter']}/*.parquet'")
    want_w = rows("""
        WITH agg AS (
          SELECT time_bucket(INTERVAL '60 minutes', ts) AS window_start,
            time_bucket(INTERVAL '60 minutes', ts)
              + INTERVAL '60 minutes' AS window_end,
            event_type,
            CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value
          FROM events GROUP BY 1, 2, 3),
        wm AS (SELECT max(ts) AS w FROM events)
        SELECT window_start, window_end, event_type, value
        FROM agg, wm WHERE window_end <= wm.w""")
    got_w = rows("SELECT window_start, window_end, event_type, value FROM "
                 f"'{sink['window']}/*.parquet'")
    return diff(got_f, want_f), diff(got_w, want_w), len(want_f), len(want_w)
