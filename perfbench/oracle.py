"""DuckDB oracle: result digests and the CP engine's SQL transcription.

`digest` renders rows exactly like `Digest.scala` does on the JVM side, so a
Spark result and a DuckDB result are equal iff their digests are. The CP
transcription evaluates a query spec naively (every window is a range join
over the raw series) and scores it with the engine's formulas in the same
floating-point operation order, so results match bit for bit.
"""
import datetime
import decimal
import hashlib
import struct

import duckdb

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_US = datetime.timedelta(microseconds=1)


def _double(x):
    if x != x:
        return "nan"
    if x == 0.0:
        return "0"
    return format(struct.unpack(">Q", struct.pack(">d", x))[0], "x")


def value(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _double(v)
    if isinstance(v, decimal.Decimal):
        return _double(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return str((v - (_EPOCH_TZ if v.tzinfo else _EPOCH)) // _US)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):  # a STRUCT: fields in declaration order
        return "(" + ",".join(value(x) for x in v.values()) + ")"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(value(r[i]) for i in order) for r in rows)
    h = hashlib.sha1("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


def run(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return digest(cols, rows), len(rows)


def connect(threads, temp_dir, memory="4GB"):
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET memory_limit = '{memory}'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def register_tables(con, data_dir, names):
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")


# ------------------------------------------------------ CP transcription

def _d(x):
    return f"CAST({x} AS DOUBLE)"


def _window_value(c):
    """One constraint's value for grid cell g over the joined series rows s
    (reference: server.py:955-1016); window clamps at the series ends are
    implicit because s.t never leaves the series."""
    inner = "CASE WHEN s.t BETWEEN g.x AND g.x + g.lx THEN s.y END"
    if c["name"] == "avg_amp":
        return f"sum({inner}) / CAST(g.lx + 1 AS DOUBLE)"
    n = int(c["arg"])
    if c["name"] == "max_amp_excess_right":
        other = f"CASE WHEN s.t BETWEEN g.x + g.lx AND g.x + g.lx + {n} THEN s.y END"
    else:
        other = f"CASE WHEN s.t BETWEEN g.x - {n} AND g.x THEN s.y END"
    return f"max({inner}) - max({other})"


def cp_sql(q, series="series", multi=False):
    """The DuckDB transcription of one CP request (`gen._cp_query` params)
    over `series(t, y)` — or `(sid, t, y)` with `multi`, per series."""
    cs = q["constraints"]
    n = len(cs)
    sid = "sid, " if multi else ""
    gsid = "g.sid, " if multi else ""
    left = max([int(c["arg"]) for c in cs if c["name"] == "max_amp_excess_left"] + [0])
    right = max([int(c["arg"]) for c in cs if c["name"] == "max_amp_excess_right"] + [0])
    ext_src = (f"(SELECT sid, max(t) AS tmax FROM {series} GROUP BY sid)" if multi
               else f"(SELECT max(t) AS tmax FROM {series})")
    sat = []
    for i, c in enumerate(cs):
        parts = ([f"c{i} >= {_d(c['lo'])}"] if c["lo"] is not None else []) + \
                ([f"c{i} <= {_d(c['hi'])}"] if c["hi"] is not None else [])
        sat.append("(" + " AND ".join(parts) + ")" if parts else "TRUE")
    sql = [f"WITH grid AS (SELECT {'e.sid, ' if multi else ''}x, lx FROM {ext_src} e "
           f"CROSS JOIN generate_series({q['x_lo']}, {q['x_hi']}) gx(x) "
           f"CROSS JOIN generate_series({q['lx_lo']}, {q['lx_hi']}) gl(lx) "
           f"WHERE x + lx <= e.tmax),",
           f"vals AS (SELECT {gsid}g.x, g.lx, " +
           ", ".join(f"{_window_value(c)} AS c{i}" for i, c in enumerate(cs)) +
           f" FROM grid g JOIN {series} s ON {'s.sid = g.sid AND ' if multi else ''}"
           f"s.t BETWEEN g.x - {left} AND g.x + g.lx + {right} "
           f"GROUP BY {gsid}g.x, g.lx),",
           "sat AS (SELECT *, " + ", ".join(f"{s} AS sat{i}" for i, s in enumerate(sat)) +
           " FROM vals)"]
    cols = f"{sid}x AS time_id, lx AS \"offset\""
    if q["mode"] != "refined":
        where = " AND ".join(f"sat{i}" for i in range(n))
        if q["mode"] == "limit":
            part = "PARTITION BY sid " if multi else ""
            sql.append(f"SELECT {cols} FROM (SELECT *, row_number() OVER ({part}ORDER BY x, lx) "
                       f"AS rn FROM sat WHERE {where}) WHERE rn <= {q['k']}")
        else:
            sql.append(f"SELECT {cols} FROM sat WHERE {where}")
        return "\n".join(sql)
    # scoring (reference: server.py:524-546, 614-664, 779-816) in the engine's
    # operation order: RP = 0.5 max_c RD_c + 0.5 VC, RK = 1 - sum_c w RK_c
    ext = ", ".join(f"min(c{i}) AS mn{i}, max(c{i}) AS mx{i}" for i in range(n))
    sql[-1] += ","
    sql.append(f"ext AS (SELECT {sid}{ext} FROM sat{' GROUP BY sid' if multi else ''}),")
    rds, rks = [], []
    for i, c in enumerate(cs):
        lo, hi = c["lo"], c["hi"]
        above = (f"WHEN c{i} > {_d(hi)} THEN (c{i} - {_d(hi)}) / (mx{i} - {_d(hi)}) "
                 if hi is not None else "")
        below = (f"WHEN c{i} < {_d(lo)} THEN ({_d(lo)} - c{i}) / ({_d(lo)} - mn{i}) "
                 if lo is not None else "")
        rds.append(f"(CASE {above}{below}ELSE {_d(0)} END)" if above or below else _d(0))
        a = _d(lo) if lo is not None else f"mn{i}"
        b = _d(hi) if hi is not None else f"mx{i}"
        num = f"({b} - c{i})" if c["target"] == "MAX" else f"({a} - c{i})"
        rks.append(f"((CAST(1 AS DOUBLE) / {n}) * "
                   f"(CASE WHEN {b} - {a} <> 0 THEN {num} / ({b} - {a}) ELSE {_d(0)} END))")
    nsat = " + ".join(f"CAST(sat{i} AS INTEGER)" for i in range(n))
    max_rd = rds[0] if n == 1 else f"greatest({', '.join(rds)})"
    rk_sum = rks[0]
    for r in rks[1:]:
        rk_sum = f"({rk_sum} + {r})"
    sql.append(
        "scored AS (SELECT *, " + " AND ".join(f"sat{i}" for i in range(n)) + " AS allsat, "
        f"CAST({n} - ({nsat}) AS DOUBLE) / {n} AS vc, "
        f"{_d(1)} - {rk_sum} AS rk "
        f"FROM sat {'JOIN ext USING (sid)' if multi else 'CROSS JOIN ext'}),")
    sql.append(f"ranked AS (SELECT *, {_d(0.5)} * {max_rd} + {_d(0.5)} * vc AS rp FROM scored)")
    part = "PARTITION BY sid " if multi else ""
    sql.append(
        f"SELECT {cols} FROM (SELECT *, row_number() OVER ({part}ORDER BY allsat DESC, "
        "CASE WHEN allsat THEN -rk ELSE rp END ASC, x ASC, lx ASC) AS rn FROM ranked) "
        f"WHERE rn <= {q['k']}")
    return "\n".join(sql)


def satisfied_sql(q, series="series"):
    """How many grid cells satisfy every constraint (single series): m >= k
    means a refined request tightens, m < k that it relaxes."""
    base = cp_sql(dict(q, mode="unrefined"), series)
    return f"SELECT count(*) FROM ({base})"
