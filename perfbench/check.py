"""Output checks of a benchmark run, against DuckDB replays of its inputs.

* reports (etl_load): each registered SQL report's first result is compared
  with the query's DuckDB oracle over the same base tables, using the
  comparison rules of the engine's correctness gate: columns sorted by
  name, same row count and order, same dtype family, exactly equal values.
  Later executions of a report are compared with its first result inside
  the run.
* etl_load tables: the final versions are compared with a replay of the
  generated batches: latest row wins per key for `orders` and `events`,
  every row for `events_log`, and the summaries' oracle SQL over the
  replayed events.
* index_lifecycle: each family's final served state is compared with the
  law its oracle-checked query certifies: the IVF-PQ postings hold exactly
  the live vectors (their codes are checked in the run against the
  fixed-model encode); PageRank ranks equal a full recompute over the live
  edges; the postings equal the inverted index of the live documents.

Every check returns (ok, detail).
"""
import glob
import math
import os

import duckdb
import pandas as pd


def read_dump(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _plain(df):
    """Timestamps as integer microseconds, so tz-aware and naive reads of
    the same instant compare equal."""
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]").astype("int64")
    return df[sorted(df.columns)]


def values_match(a, b):
    """The correctness gate's comparison of two canonicalized frames."""
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if a.shape != b.shape:
        return False, f"shape {a.shape} vs {b.shape}"

    def family(k):
        return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(k, k)
    for c in a.columns:
        fa, fb = family(a[c].dtype.kind), family(b[c].dtype.kind)
        if fa != fb:
            return False, f"col {c} dtype family {a[c].dtype} vs {b[c].dtype}"
    for c in a.columns:
        x, y = a[c], b[c]
        for i in range(len(x)):
            vx, vy = x.iloc[i], y.iloc[i]
            if pd.isna(vx) and pd.isna(vy):
                continue
            if isinstance(vx, float) or isinstance(vy, float):
                try:
                    fx, fy = float(vx), float(vy)
                except (TypeError, ValueError):
                    return False, f"col {c} row {i}: {vx!r} vs {vy!r}"
                if math.isnan(fx) and math.isnan(fy):
                    continue
                if fx != fy:
                    return False, f"col {c} row {i}: {vx!r} vs {vy!r}"
            elif str(vx) != str(vy):
                return False, f"col {c} row {i}: {vx!r} vs {vy!r}"
    return True, ""


def same_rows(con, dump, sql):
    """Multiset equality of a dumped table and a replay query, columns
    matched by name and values by type (DuckDB EXCEPT ALL both ways)."""
    got = f"read_parquet('{dump}/*.parquet')"
    cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall())
    want = sorted(r[0] for r in con.execute(f"DESCRIBE {sql}").fetchall())
    if cols != want:
        return False, f"columns {cols} vs {want}"
    sel = ", ".join(f'"{c}"' for c in cols)
    diff = lambda a, b: con.execute(
        f"SELECT count(*) FROM (SELECT {sel} FROM {a} EXCEPT ALL SELECT {sel} FROM {b})").fetchone()[0]
    extra, missing = diff(got, f"({sql})"), diff(f"({sql})", got)
    ok = extra == 0 and missing == 0
    return ok, "" if ok else f"{extra} rows not in the replay, {missing} replay rows missing"


def base_connection(base):
    con = duckdb.connect()
    for f in glob.glob(os.path.join(base, "*.parquet")):
        t = os.path.basename(f).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    return con


def check_reports(base, dump, oracles):
    con = base_connection(base)
    out = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = _plain(read_dump(os.path.join(dump, f"report_{name}")))
            want = _plain(con.execute(sql).df())
            out[name] = values_match(got, want)
        except Exception as e:  # a missing dump or a failing oracle is a failed check
            out[name] = (False, str(e)[:300])
    return out


def check_etl(manifest, in_dir, dump, days, summary_sql):
    base = manifest["base"]
    con = duckdb.connect()
    day_dirs = [os.path.join(in_dir, f"day{d:03d}") for d in range(days)]
    batch = lambda t: " UNION ALL ".join(
        [f"SELECT * FROM read_parquet('{base}/{t}.parquet')"] +
        [f"SELECT * FROM read_parquet('{d}/{t}.parquet')" for d in day_dirs])
    con.execute(f"CREATE TABLE o AS SELECT * FROM read_parquet('{base}/orders.parquet')")
    for d in day_dirs:
        b = f"read_parquet('{d}/orders.parquet')"
        con.execute(f"DELETE FROM o WHERE o_orderkey IN (SELECT o_orderkey FROM {b})")
        con.execute(f"INSERT INTO o SELECT * FROM {b}")
    con.execute(f"CREATE TABLE events_log AS {batch('events')}")
    con.execute("""CREATE TABLE events AS SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
        FROM events_log) WHERE rn = 1""")
    expected = {"orders": "SELECT * FROM o", "events": "SELECT * FROM events",
                "events_log": "SELECT * FROM events_log"}
    tables = {"q35_summary_mau": "mau_summary", "q36_summary_nps": "nps_summary",
              "q37_summary_channel": "channel_summary"}
    for q, t in tables.items():
        expected[t] = summary_sql[q]
    out = {}
    for t, sql in expected.items():
        try:
            out[t] = same_rows(con, os.path.join(dump, t), sql)
        except Exception as e:
            out[t] = (False, str(e)[:300])
    return out


def check_index(in_dir, dump, rounds, graph):
    con = duckdb.connect()
    rd = [os.path.join(in_dir, f"round{r:03d}") for r in range(rounds)]
    pq_files = lambda name: ", ".join(f"'{d}/{name}.parquet'" for d in rd)
    out = {}

    def live(base, append, delete, key):
        """Base rows plus every appended row, minus the deleted keys (ids
        are never re-appended once deleted)."""
        q = f"SELECT * FROM read_parquet('{in_dir}/{base}.parquet')"
        if rd:
            q = (f"SELECT a.* FROM ({q} UNION ALL SELECT * FROM read_parquet([{pq_files(append)}])) a "
                 f"ANTI JOIN read_parquet([{pq_files(delete)}]) d USING ({key})")
        return q

    # IVF-PQ: exactly the live vectors are served
    try:
        live_vec = con.execute(
            f"SELECT vec_id FROM ({live('vec_base', 'vec_append', 'vec_delete', 'vec_id')})"
        ).df()["vec_id"]
        served = read_dump(os.path.join(dump, "pq"))["nid"]
        ok = sorted(served.tolist()) == sorted(live_vec.tolist())
        out["pq"] = (ok, "" if ok else f"{len(served)} served vs {len(live_vec)} live ids")
    except Exception as e:
        out["pq"] = (False, str(e)[:300])

    # PageRank: full recompute over the live edges
    try:
        con.execute(f"CREATE TABLE e0 AS SELECT src, dst FROM read_parquet('{in_dir}/edge_base.parquet')")
        for d in rd:
            con.execute(f"INSERT INTO e0 SELECT src, dst FROM read_parquet('{d}/edge_append.parquet')")
            gone = f"(SELECT node FROM read_parquet('{d}/node_delete.parquet'))"
            con.execute(f"DELETE FROM e0 WHERE src IN {gone} OR dst IN {gone}")
        g = graph
        iters = ",\n".join(
            f"""r{i} AS (SELECT e.dst AS node,
                   {g['base']} + ({g['damp_num']} * SUM(r.r // e.outdeg)) // {g['damp_den']} AS r
                 FROM e JOIN r{i - 1} r ON e.src = r.node GROUP BY 1)"""
            for i in range(1, g["iters"] + 1))
        want = f"""WITH
            deg AS (SELECT src, CAST(count(1) AS BIGINT) AS outdeg FROM e0 GROUP BY 1),
            e AS (SELECT e0.src, e0.dst, deg.outdeg FROM e0 JOIN deg USING (src)),
            r0 AS (SELECT src AS node, CAST({g['scale']} AS BIGINT) AS r FROM deg),
            {iters}
            SELECT node, CAST(r AS BIGINT) AS rank FROM r{g['iters']}"""
        out["pr"] = same_rows(con, os.path.join(dump, "pr"), want)
    except Exception as e:
        out["pr"] = (False, str(e)[:300])

    # postings: the inverted index of the live documents
    try:
        want = f"""
            SELECT g AS term, doc_id, CAST(count(1) AS BIGINT) AS tf FROM (
              SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                                x -> x <> '')) AS g
              FROM ({live('doc_base', 'doc_append', 'doc_delete', 'doc_id')}))
            GROUP BY 1, 2"""
        out["post"] = same_rows(con, os.path.join(dump, "post"), want)
    except Exception as e:
        out["post"] = (False, str(e)[:300])
    return out
