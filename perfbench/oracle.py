"""DuckDB checks of a run's results, made after the timed window.

Each check returns None when the result is right, or a one-line cause.
`soql` and `bulk` results arrive as digests (see digest()), `curate`
results as parquet files compared under tools/compare_oracle.py's rule
(columns sorted by name, rows as a sorted multiset of full-precision
reprs, types compared within the 64-bit integer family), `maintain`
states as files or summaries checked against a batch recompute over
the landed tick files.
"""
import datetime as dt
import decimal
import hashlib
import math
import os
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)


def _cell(v):
    """Canonical text of one value; mirrors graftbench.Digest.cell."""
    if v is None:
        return "\x00N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return str(struct.unpack("<q", struct.pack("<d", v))[0])
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, dt.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, decimal.Decimal):
        s = format(v.normalize(), "f")
        return "0" if s in ("-0", "0") else s
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(names, rows):
    """(sorted column names, row count, order-independent digest)."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        line = "\x1f".join(_cell(r[i]) for i in order)
        h = hashlib.md5(line.encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
    return [names[i] for i in order], len(rows), str(total)


class Oracle:
    def __init__(self, data_dir):
        self.data = data_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def _digest_cause(self, con, chk, sql):
        res = con.sql(sql)
        cols, n, d = digest(list(res.columns), res.fetchall())
        if cols != chk["columns"]:
            return f"columns {chk['columns']} != oracle {cols}"
        if n != chk["rows"] or d != chk["digest"]:
            return f"rows/digest {chk['rows']}/{chk['digest']} != oracle {n}/{d}"
        return None

    def soql(self, con, chk):
        return self._digest_cause(con, chk, chk["sql"])

    def bulk(self, con, chk):
        ddl_con = duckdb.connect()
        ddl_con.execute(chk["ddl"])
        got = [r[0] for r in ddl_con.sql(
            f"DESCRIBE \"{chk['table']}\"").fetchall()]
        ddl_con.close()
        if got != chk["fields"]:
            return f"DDL columns {got} != fields {chk['fields']}"
        return self._digest_cause(
            con, chk, f"SELECT {', '.join(chk['fields'])} FROM {chk['table']}")

    def curate(self, con, chk):
        fam = {"TINYINT": "INT64", "SMALLINT": "INT64", "INTEGER": "INT64",
               "BIGINT": "INT64"}

        def norm(rel):
            names = list(rel.columns)
            types = {n: fam.get(str(t), str(t))
                     for n, t in zip(names, rel.types)}
            order = sorted(range(len(names)), key=lambda i: names[i])
            rows = sorted(tuple(
                "NaN" if isinstance(r[i], float) and math.isnan(r[i])
                else repr(r[i]) for i in order) for r in rel.fetchall())
            return [names[i] for i in order], types, rows

        g_cols, g_types, g_rows = norm(con.sql(
            f"SELECT * FROM read_parquet('{chk['path']}/*.parquet')"))
        w_cols, w_types, w_rows = norm(con.sql(chk["sql"]))
        if g_cols != w_cols:
            return f"columns {g_cols} != oracle {w_cols}"
        if g_types != w_types:
            return f"types {g_types} != oracle {w_types}"
        if g_rows != w_rows:
            return f"{len(g_rows)} rows != oracle {len(w_rows)} rows or values"
        return None

    def landed(self, ticks):
        files = [os.path.join(self.data, "ticks", t) for t in ticks]
        self.con.execute("CREATE OR REPLACE VIEW landed AS SELECT * FROM "
                         f"read_parquet({files!r})")

    def maintain(self, con, chk):
        sink = chk["sink"]
        q = con.sql
        if sink in ("count", "sums", "latest"):
            files = [f[len("file:"):] if f.startswith("file:") else f
                     for f in chk["files"]]
            state = f"read_parquet({files!r})"
            sql = {
                "count": (f"SELECT event_type, cnt FROM {state}",
                          "SELECT event_type, count(*) FROM landed GROUP BY 1"),
                "sums": (f"SELECT user_id, v, n FROM {state}",
                         "SELECT user_id, sum(CAST(value AS DECIMAL(18,2))),"
                         " count(*) FROM landed GROUP BY 1"),
                "latest": (f"SELECT user_id, event_id FROM {state}",
                           "SELECT user_id, event_id FROM (SELECT user_id,"
                           " event_id, row_number() OVER (PARTITION BY"
                           " user_id ORDER BY ts DESC, event_id DESC) rn"
                           " FROM landed) WHERE rn = 1")}[sink]
            got = sorted(tuple(_cell(v) for v in r) for r in q(sql[0]).fetchall())
            want = sorted(tuple(_cell(v) for v in r)
                          for r in q(sql[1]).fetchall())
            if got != want:
                return f"{len(got)} state rows != recompute {len(want)} rows or values"
            return None
        total = q("SELECT count(*) FROM landed").fetchone()[0]
        if sink == "tdigest":
            for k in chk["keys"]:
                n, n_lt, n_le = q(
                    "SELECT count(*), count(*) FILTER (WHERE value < $e),"
                    " count(*) FILTER (WHERE value <= $e) FROM landed"
                    " WHERE event_type = $k",
                    params={"e": k["est"], "k": k["key"]}).fetchone()
                b = k["bound"]
                if k["n"] != n or not ((n_lt + 1) * 2 <= n + 2 * b
                                       and n_le * 2 >= n - 2 * b):
                    return f"median of {k['key']} outside its rank bound"
            return None
        if chk["n"] != total:
            return f"n {chk['n']} != landed rows {total}"
        if sink == "hh":
            slack = total / (chk["k"] + 1)
            for user, true in q("SELECT CAST(user_id AS VARCHAR), count(*)"
                                " FROM landed GROUP BY 1").fetchall():
                est = chk["mg"].get(user, 0)
                if est > true or true - est > slack:
                    return f"MG estimate {est} of {user} vs true {true}"
            return None
        exact = q("SELECT count(DISTINCT user_id) FROM landed").fetchone()[0]
        if abs(chk["est"] - exact) / exact > 0.05:
            return f"HLL estimate {chk['est']} vs exact {exact}"
        return None

    def check(self, chk):
        """Runs one check on its own cursor, so checks can run in
        parallel threads once `landed` is defined."""
        if chk["kind"] == "maintain_landed":
            self.landed(chk["ticks"])
            return None
        con = self.con.cursor()
        try:
            return getattr(self, chk["kind"])(con, chk)
        except Exception as e:  # an oracle that cannot run is a failure
            return f"{type(e).__name__}: {str(e).splitlines()[0]}"
        finally:
            con.close()
