"""Expected results, computed with DuckDB over the same parquet fixture.

- query_layer queries: each query's row count, from its `SparkEntry.oracleSql`
  twin, and for the queries checked row by row, the oracle's rows.
- query_layer requests: every payload the two endpoints can be asked for, from the
  q77/q78 oracle SQL (Publisher's endpoint SQL) with the parameters filled
  in.

Both files carry the SHA-256 of the oracle SQL they were computed from
(`oracle_hash`); the harness refuses to run when the engine's oracle SQL no
longer hashes to it.
"""
import datetime as dt

import duckdb

from gen_fixture import ADJ, NOUN

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DAYS = [f"2024-01-{d:02d}" for d in range(1, 31)]
Q77_DAYS = "'2024-01-15', '2024-01-14'"
Q78_MATCH = "p_name LIKE '%small%' AND p_name LIKE '%widget%'"
SEGMENT_CASE_END = "END AS name"
BAND_CASE = ("CASE WHEN c_acctbal < 0 THEN 'negative' "
             "WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS name")


def connect(fixture):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    return con


def suite_rows(fixture, oracles, names, collect):
    """Row count of each named query's oracle (None where it has none), and
    the rows themselves, as column -> value dicts, of the `collect` ones."""
    con = connect(fixture)
    rows, collected = {}, {}
    for n in names:
        sql = oracles.get(n)
        rows[n] = None if sql is None else \
            con.sql(f"SELECT count(*) FROM ({sql.strip().rstrip(';')})").fetchone()[0]
        if n in collect:
            r = con.sql(sql.strip().rstrip(";"))
            collected[n] = [dict(zip(r.columns, t)) for t in r.fetchall()]
    return rows, collected


def subset_check(expected, got):
    """Rows of `got` that are not among `expected` (floats under `close`),
    or that repeat: a query that may miss rows but must not invent any."""
    def key(r):
        return tuple(sorted((k, v) for k, v in r.items() if not isinstance(v, float)))
    by_key = {key(r): r for r in expected}
    bad, seen = [], set()
    for r in got:
        e = by_key.get(key(r))
        if e is None or key(r) in seen or e.keys() != r.keys() or \
                not all(close(float(e[k]), float(r[k])) for k in e if isinstance(e[k], float)):
            bad.append(r)
        seen.add(key(r))
    return bad


def item_names():
    """Every itemName a query_layer request can carry: the p_name tokens."""
    return ADJ + NOUN


def dau_path(td):
    return f"/dauRealtime?td={td}"


def stats_path(item, t):
    return f"/statsByItem?itemName={item}&t={t}"


def serve_payloads(fixture, oracles):
    """path -> expected payload, for every request query_layer can send."""
    q77, q78 = oracles["q77_dau_realtime_sql"], oracles["q78_stats_by_item_sql"]
    if Q77_DAYS not in q77 or Q78_MATCH not in q78 or SEGMENT_CASE_END not in q78:
        raise ValueError("q77/q78 oracle SQL changed shape; update oracle.py")
    con = connect(fixture)
    out = {}
    for td in DAYS:
        yd = (dt.date.fromisoformat(td) - dt.timedelta(days=1)).isoformat()
        rows = con.sql(q77.replace(Q77_DAYS, f"'{td}', '{yd}'")).fetchall()
        hist = {d: {hr: n for dd, hr, n in rows if dd == d} for d in (td, yd)}
        out[dau_path(td)] = {"dauTotal": sum(hist[td].values()),
                             "dauTd": hist[td], "dauYd": hist[yd]}
    case_start = q78.index("CASE")
    case_end = q78.index(SEGMENT_CASE_END) + len(SEGMENT_CASE_END)
    for item in item_names():
        match = " AND ".join(f"p_name LIKE '%{tok}%'" for tok in item.split())
        for t in ("segment", "band"):
            sql = q78.replace(Q78_MATCH, match)
            if t == "band":
                sql = sql[:case_start] + BAND_CASE + sql[case_end:]
            out[stats_path(item, t)] = [{"name": n, "value": v}
                                        for n, v in con.sql(sql).fetchall()]
    return out


def close(a, b):
    """The project's self-check tolerance for floats; exact otherwise."""
    if isinstance(a, float) or isinstance(b, float):
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def payload_matches(expected, body):
    if isinstance(expected, dict):
        return body == expected
    return len(body) == len(expected) and all(
        e["name"] == g["name"] and close(float(e["value"]), float(g["value"]))
        for e, g in zip(expected, body))
