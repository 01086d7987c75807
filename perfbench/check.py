"""Output checks for a benchmark run, against DuckDB.

Each check returns the request ids whose output was wrong, with a
reason; run.py counts those requests as failed. The checks read only
the base tables, the run's seeded inputs and the outputs the JVM wrote
after its measured window, so they are not timed.
"""
import decimal
import math
import os
import re

import duckdb

STATS = ["1. count", "2. count_distinct", "3. mean", "4. std", "5. min",
         "6. median", "7. max", "8. sum"]


def connect(base):
    con = duckdb.connect()
    for f in sorted(os.listdir(base)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(base, f)}')")
    return con


def _num(x):
    try:
        return float(x)
    except (TypeError, ValueError):
        return None


def same_cell(got, want, abs_tol=1e-9):
    """`got` is the engine's string cell, `want` a DuckDB value."""
    if want is None:
        return got == ""
    if isinstance(want, (int, float, decimal.Decimal)):
        g = _num(got)
        return g is not None and math.isclose(g, float(want), rel_tol=1e-9,
                                              abs_tol=abs_tol)
    return got == str(want)


def profile_stats(con, table, cols):
    """{column: [8 stats]} with the profiler's definitions; the median
    is checked as min <= median <= max, so it is left None."""
    out = {}
    for c in cols:
        out[c] = list(con.execute(
            f"SELECT count({c}), count(DISTINCT {c}), round(avg({c}), 5), "
            f"round(stddev_samp({c}), 5), round(min({c}), 5), NULL, "
            f"round(max({c}), 5), round(sum({c}), 5) FROM {table}").fetchone())
    return out


def check_profile(labels, rows, stats):
    """Wide profile rows (agg_type + one column per profiled column)."""
    if [r[0] for r in rows] != STATS or labels[1:] != list(stats):
        return "profile shape differs"
    for j, c in enumerate(labels[1:], start=1):
        cells = [r[j] for r in rows]
        want = stats[c]
        for i, stat in enumerate(STATS):
            if stat == "6. median":
                m, lo, hi = _num(cells[5]), _num(cells[4]), _num(cells[6])
                if None in (m, lo, hi) or not lo <= m <= hi:
                    return f"{c}: median {cells[5]} outside [{cells[4]}, {cells[6]}]"
            elif not same_cell(cells[i], want[i], abs_tol=2e-5):
                return f"{c} {stat}: got {cells[i]}, want {want[i]}"
    return None


def parse_aligned(text):
    """Split `column -t`-style text by the header's column offsets."""
    lines = [ln for ln in text.split("\n") if ln.strip()]
    starts = [m.start() for m in re.finditer(r"\S+", lines[0])]
    labels = lines[0].split()

    def cells(ln):
        return [ln[a:b].strip() for a, b in zip(starts, starts[1:] + [None])]

    return labels, [cells(ln) for ln in lines[1:]]


def check_vimdiff(con, out, checks):
    con.execute("CREATE OR REPLACE VIEW orders_v2 AS SELECT * FROM "
                f"read_parquet('{checks['orders_v2']}/*.parquet')")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    want = {t: profile_stats(con, t, cols) for t in ("orders", "orders_v2")}
    verdict = {}
    bad = {}
    for r in checks["requests"]:
        key = r["output"]
        if key not in verdict:
            verdict[key] = vimdiff_output(os.path.join(out, key), want)
        if verdict[key]:
            bad[r["rid"]] = verdict[key]
    return bad


def vimdiff_output(prefix, want):
    tables = {}
    for side, table in (("base", "orders"), ("target", "orders_v2")):
        with open(f"{prefix}.{side}.tsv", encoding="utf-8") as f:
            labels, rows = parse_aligned(f.read())
        err = check_profile(labels, rows, want[table])
        if err:
            return f"{side} profile: {err}"
        tables[side] = {(c, r[0]): r[j] for j, c in enumerate(labels[1:], 1)
                        for r in rows}
    with open(f"{prefix}.stdout.txt", encoding="utf-8") as f:
        text = "\n".join(ln for ln in f.read().split("\n")
                         if not ln.startswith("wrote "))
    differing = {k for k, v in tables["base"].items()
                 if not math.isclose(float(v), float(tables["target"][k]),
                                     rel_tol=1e-12, abs_tol=1e-12)}
    labels, rows = parse_aligned(text) if text.strip() else ([], [])
    listed = {(r[0], r[1]) for r in rows}
    if listed != differing:
        return f"diff lists {sorted(listed)}, profiles differ at {sorted(differing)}"
    return None


def check_cdc(con, out, checks):
    con.execute("CREATE TABLE t AS SELECT o_orderkey, o_custkey, o_totalprice, "
                "o_orderdate FROM orders")
    con.execute("CREATE VIEW batches AS SELECT * FROM "
                f"read_parquet('{checks['batches']}/*.parquet')")

    def state():
        return con.execute("SELECT count(*), sum(o_custkey), sum(o_totalprice), "
                           "max(o_orderkey) FROM t").fetchone()

    def agrees(got, want):
        return (got[0] == want[0] and got[1] == want[1] and got[3] == want[3]
                and math.isclose(got[2], want[2], rel_tol=1e-9))

    bad = {}
    for r in sorted(checks["requests"], key=lambda r: r["rid"]):
        b = r["batch"]
        if not agrees(r["previous"], state()):
            bad[r["rid"]] = f"batch {b}: previous-version read differs from replay"
        con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey "
                    f"FROM batches WHERE batch_id = {b} AND op = 'D')")
        con.execute(f"UPDATE t SET o_custkey = s.o_custkey, o_totalprice = "
                    f"s.o_totalprice FROM (SELECT * FROM batches WHERE "
                    f"batch_id = {b} AND op = 'U') s WHERE t.o_orderkey = s.o_orderkey")
        con.execute(f"INSERT INTO t SELECT o_orderkey, o_custkey, o_totalprice, "
                    f"o_orderdate FROM batches WHERE batch_id = {b} AND op = 'I' "
                    f"AND o_orderkey NOT IN (SELECT o_orderkey FROM t)")
        if not agrees(r["current"], state()):
            bad[r["rid"]] = f"batch {b}: current read differs from replay"
    snapshot = f"read_parquet('{checks['snapshot']}/*.parquet')"
    diff = con.execute(
        f"SELECT count(*) FROM t FULL JOIN {snapshot} s USING (o_orderkey) "
        f"WHERE t.o_custkey IS DISTINCT FROM s.o_custkey "
        f"OR t.o_orderdate IS DISTINCT FROM s.o_orderdate "
        f"OR abs(t.o_totalprice - s.o_totalprice) > 1e-6 "
        f"OR t.o_totalprice IS NULL OR s.o_totalprice IS NULL").fetchone()[0]
    if diff and checks["requests"]:
        last = max(r["rid"] for r in checks["requests"])
        bad[last] = f"final snapshot differs from replay in {diff} rows"
    return bad


def run(base, out, checks):
    con = connect(base)
    if checks["kind"] == "vimdiff":
        return check_vimdiff(con, out, checks)
    return check_cdc(con, out, checks)
