"""Input generation and DuckDB references for the graft benchmark.

Everything here runs before the engine starts, so graft only ever sees
the generated files. The references are DuckDB's answers over the same
files, reduced to the order-insensitive digest `Digest.scala` computes
on the engine side.
"""
import hashlib
import json
import math
import os
import re
import shutil
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
ALL_TABLES = TPCH + ["events", "documents", "embeddings"]

# Micro-batches each workload's write stream cycles through.
MICRO_BATCHES = 16


def find_sf_dir(root, sf):
    """The table directory of scale factor `sf` ("0.1" or "0.001"): the
    matching row of the repo's TESTDATA.md table, or $GRAFT_BENCH_SF_DIR
    for sf0.1."""
    env = os.environ.get("GRAFT_BENCH_SF_DIR")
    if env and sf == "0.1":
        return Path(env)
    doc = Path(root, "TESTDATA.md")
    if doc.exists():
        m = re.search(r"^\|\s*" + re.escape(sf) + r"\s*\|\s*`([^`]+)`", doc.read_text(), re.M)
        if m:
            return Path(m.group(1))
    raise SystemExit(f"graftbench: no sf{sf} data dir (set GRAFT_BENCH_SF_DIR)")


def stage_tables(src, dst):
    """Copy the sf0.1 parquet files into the benchmark's work dir, so every
    later read stays inside the checkout."""
    dst.mkdir(parents=True, exist_ok=True)
    for t in ALL_TABLES:
        s, d = Path(src, f"{t}.parquet"), dst / f"{t}.parquet"
        if not s.exists():
            raise SystemExit(f"graftbench: missing input table {s}")
        if not d.exists() or d.stat().st_size != s.stat().st_size:
            shutil.copyfile(s, d)


def connect(table_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
    return con


def build_replica(src, dst, copies):
    """A `copies`-fold replica of the TPC-H tables with the key-offset
    scheme of graft.ScaleUp: copy c adds c * (max key + 1) to every key
    column, so each copy joins only with itself and query results scale
    linearly. The fact tables stay sorted by their order key, as the
    ingest writes them."""
    marker = dst / "DONE"
    if marker.exists() and marker.read_text() == str(copies):
        return
    shutil.rmtree(dst, ignore_errors=True)
    dst.mkdir(parents=True)
    con = connect(src, TPCH)
    n = {c: con.execute(f"SELECT max({c}) + 1 FROM {t}").fetchone()[0] for t, c in [
        ("customer", "c_custkey"), ("supplier", "s_suppkey"),
        ("part", "p_partkey"), ("orders", "o_orderkey")]}
    offsets = {
        "customer": {"c_custkey": n["c_custkey"]},
        "supplier": {"s_suppkey": n["s_suppkey"]},
        "part": {"p_partkey": n["p_partkey"]},
        "orders": {"o_orderkey": n["o_orderkey"], "o_custkey": n["c_custkey"]},
        "lineitem": {"l_orderkey": n["o_orderkey"], "l_partkey": n["p_partkey"],
                     "l_suppkey": n["s_suppkey"]},
    }
    order = {"orders": "o_orderkey", "lineitem": "l_orderkey, l_linenumber"}
    for t in TPCH:
        cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
        offs = offsets.get(t, {})
        sel = ", ".join(f"{c} + _copy * {offs[c]} AS {c}" if c in offs else c for c in cols)
        src_sql = (f"SELECT {sel} FROM {t}, range({copies}) AS _r(_copy)" if offs
                   else f"SELECT * FROM {t}")
        if t in order:
            src_sql += f" ORDER BY {order[t]}"
        con.execute(f"COPY ({src_sql}) TO '{dst}/{t}.parquet' "
                    "(FORMAT parquet, ROW_GROUP_SIZE 131072)")
    marker.write_text(str(copies))


def table_rows(table_dir, tables):
    con = connect(table_dir, tables)
    return {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in tables}


# --------------------------------------------------------------- frames

def make_frames(seed, rows, dst):
    """Seeded in-memory-style frames in the shape of graft.testgen.RandFrame:
    small integer domains (so joins and groups collide), NULLs in every
    column, NaN doubles, numeric-looking strings for the cast matrix.
    `f` and `g` are fact frames with one schema; `d` is a dimension keyed
    by `k`, with NULL keys and NULL attributes."""
    dst.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    keys = max(rows // 120, 16)

    def nulls(arr, frac):
        mask = rng.random(len(arr)) < frac
        return pa.array(arr, mask=mask)

    # numeric-looking text: integers, one-decimal numbers, 'naN', garbage,
    # scientific notation and the empty string, drawn from fixed vocabularies
    ints = [str(i) for i in range(-100, 101)]
    decs = [f"{i}.{j}" for i in range(-50, 50) for j in range(10)]
    junk = [f"x{i}" for i in range(10)]
    sci = [f"{i}e{j}" for i in range(1, 10) for j in range(3)]
    numtext = np.array(ints + decs + ["naN"] + junk + sci + [""], dtype=object)
    bounds = np.cumsum([0, len(ints), len(decs), 1, len(junk), len(sci), 1])
    labels = np.array([f"ssssss{i}" for i in range(10)], dtype=object)

    def fact(n):
        x = np.round(rng.uniform(-100, 100, n), 3)
        x[rng.random(n) < 0.02] = np.nan
        kind = rng.integers(0, 6, n)
        pick = bounds[kind] + (rng.random(n) * (bounds[kind + 1] - bounds[kind])).astype(np.int64)
        t0 = np.datetime64("2020-01-01T00:00:00", "us")
        ts = t0 + rng.integers(0, 14400, n).astype("timedelta64[m]").astype("timedelta64[us]")
        return pa.table({
            "k": nulls(rng.integers(0, keys, n), 0.03),
            "g": nulls(rng.integers(0, 10, n), 0.05),
            "x": nulls(x, 0.05),
            "s": nulls(labels[rng.integers(0, 10, n)], 0.05),
            "ns": nulls(numtext[pick], 0.05),
            "b": nulls(rng.random(n) < 0.5, 0.05),
            "t": nulls(ts, 0.05),
        })

    pq.write_table(fact(rows), dst / "f.parquet")
    pq.write_table(fact(rows // 2), dst / "g.parquet")
    dk = rng.permutation(keys)[: int(keys * 0.8)]
    dk = np.concatenate([dk, np.zeros(max(keys // 50, 1), dtype=dk.dtype)])
    dmask = np.zeros(len(dk), dtype=bool)
    dmask[int(keys * 0.8):] = True  # the extra rows carry NULL keys
    pq.write_table(pa.table({
        "k": pa.array(dk, mask=dmask),
        "a": nulls(rng.integers(0, 25, len(dk)), 0.1),
    }), dst / "d.parquet")


def frame_sql():
    """DuckDB SQL for every frames read op, over views f, g and d.
    Spark semantics spelled out: numeric truthiness, SqlCast's cast cells,
    NULL keys never joining, NULLs equal in set ops."""
    nan_null = "CASE WHEN isnan(x) THEN NULL ELSE x END"
    d = ("CASE WHEN lower(trim(ns)) IN ('nan','-nan','+nan') THEN NULL "
         "WHEN lower(trim(ns)) IN ('inf','+inf','infinity','+infinity') THEN 'inf'::DOUBLE "
         "WHEN lower(trim(ns)) IN ('-inf','-infinity') THEN '-inf'::DOUBLE "
         "ELSE TRY_CAST(ns AS DOUBLE) END")
    q = {
        "filter_3vl": "SELECT * FROM f WHERE coalesce(g % 3 <> 0, false) "
                      "AND coalesce(b AND x < 50.0, false)",
        "cast_matrix": f"""SELECT k, {d} AS d, CAST(trunc({d}) AS BIGINT) AS i,
            CASE WHEN lower(ns) IN ('true','1','1.0') THEN true
                 WHEN lower(ns) IN ('false','0','0.0') THEN false END AS bo,
            CAST(trunc({nan_null}) AS BIGINT) AS xi,
            CAST(g AS VARCHAR) AS gs, CAST(b AS VARCHAR) AS bs FROM f""",
        "like": "SELECT k, s, ns FROM f WHERE coalesce(s LIKE '%s3' OR ns LIKE '-%.%', false)",
        "join_inner": "SELECT f.k, f.x, d.a FROM f JOIN d ON f.k = d.k",
        "join_left": "SELECT f.k, f.x, d.a FROM f LEFT JOIN d ON f.k = d.k",
        "join_right": "SELECT d.k, f.x, d.a FROM f RIGHT JOIN d ON f.k = d.k",
        "join_full": "SELECT coalesce(f.k, d.k) AS k, f.x, d.a FROM f FULL JOIN d ON f.k = d.k",
        "join_semi": "SELECT f.k, f.x FROM f WHERE EXISTS (SELECT 1 FROM d WHERE d.k = f.k)",
        "join_anti": "SELECT f.k, f.x FROM f WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.k = f.k)",
        "union": "SELECT k, s FROM f UNION SELECT k, s FROM g",
        "intersect": "SELECT k, s FROM f INTERSECT SELECT k, s FROM g",
        "except": "SELECT k, s FROM f EXCEPT SELECT k, s FROM g",
        "distinct": "SELECT DISTINCT k, g, b FROM f",
        "group_agg": "SELECT g, s, count(*) AS n, sum(k) AS sk, sum(x ORDER BY x) AS sx, "
                     "max(x) AS mx, max(t) AS mt FROM f GROUP BY g, s",
        "group_apply": "SELECT g, count(*) AS n, sum(k) AS sk FROM f GROUP BY g",
        "row_iterator": "SELECT * FROM f WHERE coalesce(x > 0.0, false)",
        "arrow_stream": "SELECT k, g, x, s FROM f",
    }
    return q


# ---------------------------------------------------------- write stream

def make_write_stream(con, fact_sql, dim_sql, dst):
    """The write stream's inputs for ViewMaintenance: micro-batch
    directories b=<i> holding (k, q) rows, and dim.parquet with (k, grp).
    `fact_sql` yields k, q and a deterministic row id _rn; batch i holds
    the rows whose _rn is i modulo MICRO_BATCHES."""
    dst.mkdir(parents=True, exist_ok=True)
    con.execute(f"COPY ({dim_sql}) TO '{dst}/dim.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT k, q, _rn % {MICRO_BATCHES} AS b FROM ({fact_sql}) ORDER BY _rn) "
                f"TO '{dst}' (FORMAT parquet, PARTITION_BY (b), OVERWRITE_OR_IGNORE)")


def write_partials(dst):
    """Per micro-batch partial aggregates of the maintained view
    agg(facts JOIN dim USING (k)) GROUP BY grp, and each batch's row count;
    a prefix of merges is checked against the fold of its batches' partials."""
    con = duckdb.connect()
    facts = f"read_parquet('{dst}/b=*/*.parquet', hive_partitioning=true)"
    sizes = dict(con.execute(f"SELECT b, count(*) FROM {facts} GROUP BY b").fetchall())
    parts = {b: [] for b in sizes}
    for b, g, s, c, mx in con.execute(
            f"SELECT m.b, d.grp, sum(m.q), count(m.q), max(m.q) FROM {facts} m "
            f"JOIN read_parquet('{dst}/dim.parquet') d ON m.k = d.k GROUP BY m.b, d.grp").fetchall():
        parts[b].append([g, s, c, mx])
    return parts, sizes


def view_digest(parts, batches):
    """Digest of the view after merging `batches` in order."""
    acc = {}
    for b in batches:
        for g, s, c, mx in parts[b]:
            cur = acc.get(g)
            if cur is None:
                acc[g] = [s, c, mx]
            else:
                cur[0] = s if cur[0] is None else (cur[0] if s is None else cur[0] + s)
                cur[1] += c
                cur[2] = mx if cur[2] is None else (cur[2] if mx is None else max(cur[2], mx))
    cols = {"grp": [], "sq": [], "nq": [], "mq": []}
    for g, (s, c, mx) in acc.items():
        cols["grp"].append(g); cols["sq"].append(s); cols["nq"].append(c); cols["mq"].append(mx)
    out = {}
    for name, vals in cols.items():
        nn = [v for v in vals if v is not None]
        out[name] = {"kind": "i", "nulls": len(vals) - len(nn), "sum": str(sum(int(v) for v in nn))}
    return {"rows": len(acc), "cols": out}


# --------------------------------------------------------------- digests

def _kind(duck_type):
    t = duck_type.upper()
    if t.startswith(("DECIMAL", "DOUBLE", "FLOAT", "REAL")):
        return "f"
    if t in ("VARCHAR",) or t.startswith("VARCHAR"):
        return "s"
    if t.startswith(("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
                     "USMALLINT", "UINTEGER", "UBIGINT", "BOOLEAN", "DATE", "TIMESTAMP")):
        return "i"
    return "o"


def digest_sql(con, sql):
    """The Digest.scala digest of a DuckDB query's result, computed in SQL."""
    desc = con.execute(f"DESCRIBE ({sql})").fetchall()
    exprs, layout = ["count(*)"], []
    for name, typ, *_ in desc:
        c, k = f'"{name}"', _kind(typ)
        exprs.append(f"count(*) - count({c})")
        t = typ.upper()
        if k == "i":
            v = (f"CAST({c} AS INTEGER)" if t == "BOOLEAN" else
                 f"(epoch({c})::BIGINT // 86400)" if t == "DATE" else
                 f"epoch_us({c})" if t.startswith("TIMESTAMP") else c)
            exprs.append(f"sum({v}::HUGEINT)::VARCHAR")
        elif k == "f":
            v = f"CAST({c} AS DOUBLE)"
            # float sums in sorted order, so a reference digest does not
            # depend on the order DuckDB's threads deliver the rows
            exprs += [f"count(*) FILTER (WHERE isnan({v}))",
                      f"sum({v} ORDER BY {v}) FILTER (WHERE NOT isnan({v}))",
                      f"sum(abs({v}) ORDER BY abs({v})) FILTER (WHERE NOT isnan({v}))"]
        elif k == "s":
            exprs.append(f"sum(md5_number_upper({c})::HUGEINT)::VARCHAR")
        layout.append((name.lower(), k))
    row = con.execute(f"SELECT {', '.join(exprs)} FROM ({sql}) _r").fetchone()
    out, i = {}, 1
    for name, k in layout:
        d = {"kind": k, "nulls": row[i]}
        i += 1
        if k in ("i", "s"):
            d["sum"] = row[i] or "0"
            i += 1
        elif k == "f":
            d["nans"], d["sum"], d["abs"] = row[i], row[i + 1] or 0.0, row[i + 2] or 0.0
            i += 3
        else:
            d["sum"] = None
        out[name] = d
    return {"rows": row[0], "cols": out}


def _num(v):
    return float(v) if v is not None else 0.0


def same_digest(got, want):
    """True when an engine digest matches the reference digest."""
    if got is None or got["rows"] != want["rows"] or set(got["cols"]) != set(want["cols"]):
        return False
    for name, w in want["cols"].items():
        g = got["cols"][name]
        if g["nulls"] != w["nulls"]:
            return False
        kinds = {g["kind"], w["kind"]}
        if "o" in kinds:
            continue
        if kinds <= {"i", "s"}:
            if g["kind"] != w["kind"] or int(g["sum"]) != int(w["sum"]):
                return False
            continue
        # a float on either side: compare numerically, the tolerance
        # scaled by the summed magnitudes
        if g.get("nans", 0) != w.get("nans", 0):
            return False
        a, b = _num(g["sum"]), _num(w["sum"])
        scale = max(_num(g.get("abs", abs(a))), _num(w.get("abs", abs(b))))
        if math.isinf(a) or math.isinf(b):
            if a != b:
                return False
        elif abs(a - b) > 1e-9 * scale + 1e-6:
            return False
    return True


def fingerprint(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True, default=str).encode())
    return h.hexdigest()[:16]
