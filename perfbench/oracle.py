"""Correctness checks run after the JVM exits, against DuckDB.

Catalog workloads: each expected query's first result in the run (dumped
by the JVM) must equal its Catalog DuckDB oracle, compared as
tools/compare.py does (exact values, then value-for-value string form).
Later executions in the run were already hash-compared to that first
result by the JVM. The loop runs over the expected query names, so a
query that left no output fails.

chain_day_etl: every processed day's decoded erc20 Transfer and Approval
rows must equal a DuckDB recomputation from lineitem.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd
import pandas.testing as pt


def _norm(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols, ignore_index=True)


def _reprnorm(df):
    cols = sorted(df.columns)
    s = df[cols].apply(lambda c: c.map(lambda v: "NULL" if pd.isna(v) else str(v)))
    return s.sort_values(by=cols, ignore_index=True)


def _connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def _oracle_frame(con, sql, cache_dir):
    """The oracle's result, cached per SQL text and sf: it depends on
    nothing else, and some oracles take seconds."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + f".{os.getpid()}"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df


def _compare(got_dir, want):
    parts = sorted(glob.glob(os.path.join(got_dir, "*.parquet")))
    if not os.path.isdir(got_dir):
        return "no output"
    got = (pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
           if parts else want.iloc[0:0])
    g, w = _norm(got), _norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pt.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values: " + str(e)[:200]
    if not _reprnorm(got).equals(_reprnorm(want)):
        return "value representation differs"
    return None


def _check_catalog(res, con, cache_dir):
    bad = []
    for name, sql in sorted(res["oracle_sql"].items()):
        try:
            want = _oracle_frame(con, sql, cache_dir)
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append({"op": name, "msg": f"oracle: {e}"[:300]})
            continue
        msg = _compare(os.path.join(res["dump_dir"], name), want)
        if msg:
            bad.append({"op": name, "msg": msg})
    return bad, {}


_EXPECTED = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         min(l_partkey) AS l_partkey, min(l_suppkey) AS l_suppkey
  FROM lineitem WHERE l_orderkey % {days} = {k} GROUP BY 1, 2)
SELECT '0x' || lpad(lower(hex(l_suppkey)), 40, '0') AS a,
       '0x' || lpad(lower(hex(l_partkey % 97)), 40, '0') AS b,
       CAST(l_partkey AS VARCHAR) AS v,
       '0xt' || l_orderkey || '_' || l_linenumber AS transaction_hash
FROM li WHERE (l_orderkey + l_linenumber) % 4 IN {shares}"""

_LOGS = """SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber
  FROM lineitem WHERE l_orderkey % {days} = {k})"""

_GOT = """SELECT "{a}" AS a, "{b}" AS b, CAST(value AS VARCHAR) AS v,
  transaction_hash FROM read_parquet('{path}/*.parquet')"""

# decoded event -> its two indexed address fields and the log shares
# ((l_orderkey + l_linenumber) % 4) that carry its topic
_EVENTS = {"Transfer": ("from", "to", "(0, 1)"),
           "Approval": ("owner", "spender", "(2)")}


def _check_chain(res, con):
    chain = res["chain"]
    bad, decoded, scanned = [], 0, 0
    for d in chain["days"]:
        k, days = d["k"], chain["day_count"]
        scanned += con.execute(_LOGS.format(days=days, k=k)).fetchone()[0]
        for event, (a, b, shares) in _EVENTS.items():
            path = os.path.join(chain["parse_dir"], "common",
                                f"common_erc20_evt_{event}", f"dt={d['ds']}")
            if not glob.glob(os.path.join(path, "*.parquet")):
                bad.append({"op": f"day_{k}", "msg": f"no decoded {event} rows"})
                continue
            want = _EXPECTED.format(days=days, k=k, shares=shares)
            got = _GOT.format(a=a, b=b, path=path)
            n_got = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
            n_want = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
            diff = con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}) "
                               f"UNION ALL (({want}) EXCEPT ALL ({got})))").fetchone()[0]
            decoded += n_got
            if n_got != n_want or diff:
                bad.append({"op": f"day_{k}", "msg":
                            f"{event}: {n_got} decoded rows, {n_want} expected, "
                            f"{diff} differ"})
    return bad, {"decode_yield": decoded / scanned if scanned else 0.0}


def check(res, sf_dir, cache_root):
    """Returns (failures as [{"op", "msg"}], extra per-layer figures)."""
    con = _connect(sf_dir)
    try:
        if res["workload"] == "chain_day_etl":
            return _check_chain(res, con)
        cache = os.path.join(cache_root, os.path.basename(sf_dir))
        return _check_catalog(res, con, cache)
    finally:
        con.close()
