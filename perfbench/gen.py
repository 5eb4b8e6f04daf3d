"""Seeded input generator for the benchmark.

Every input the program sees -- parquet tables, CSV files, COPY payloads,
Postgres shard loads and statement sequences -- comes from here, derived
only from the seed. The same seed gives byte-identical files and
statement lists; `test_gen.py` pins that.

Each purpose draws from its own numpy stream (`_rng(seed, purpose)`), so
resizing one input never shifts another.
"""
import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_STREAMS = {"tables": 1, "csv": 2, "exec": 3, "serve": 4, "copy": 5, "fed": 6, "fedwrite": 7}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = "agg batch column data fast filter hash join key merge query scan sort spark stream window".split()
COMMENT_WORDS = ["quick", "slow", "pending", "final", "bold", "even", "regular", "ironic"]

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _rng(seed, purpose):
    return np.random.default_rng([int(seed), _STREAMS[purpose]])


def _ts(base, offsets_us):
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def tables(seed, sf):
    """The tables the pgwire workload serves, schema-identical to the
    repo's fixture tables of the same name (FIXTURES.md). `sf` scales row
    counts the way the fixtures do (lineitem ~ 6M * sf)."""
    r = _rng(seed, "tables")
    n_cust, n_supp, n_part = max(150, int(150000 * sf)), max(10, int(10000 * sf)), max(200, int(200000 * sf))
    n_ord = max(1500, int(1500000 * sf))
    out = {}
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})
    odate = r.integers(0, 2400, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(EPOCH_1995, odate),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]})
    out["lineitem"] = lineitem(r, n_ord, n_part, n_supp)
    return out


def lineitem(r, n_ord, n_part, n_supp):
    """1-7 lines per order, so (l_orderkey, l_linenumber) is a key."""
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    per = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n = len(okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    lnum = (np.arange(n) - starts + 1).astype(np.int32)
    pkey = r.integers(0, n_part, n, dtype=np.int64)
    qty = r.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okey), "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(r.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(lnum), "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[pkey], 2)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995 + np.timedelta64(1, "D"), r.integers(0, 2500, n) * DAY_US)})


def write_parquet(tbls, out_dir, names=None):
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in names or sorted(tbls):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbls[name], paths[name])
    return paths


# ---------------------------------------------------------------- exec_csv

def _fmt_ts(us):
    return str(np.datetime64(int(us), "us").astype("datetime64[s]")).replace("T", " ")


def write_exec_csv(seed, n_orders, out_dir, n_files=4):
    """lineitem-shaped CSV split over `n_files` files plus one orders file.
    Fields: quoted comments holding commas, empty (null) discounts and
    `yyyy-MM-dd HH:mm:ss` timestamps. Returns (lineitem paths, orders path)."""
    r = _rng(seed, "csv")
    os.makedirs(out_dir, exist_ok=True)
    per = r.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), per)
    n = len(okey)
    lnum = np.arange(n) - np.repeat(np.cumsum(per) - per, per) + 1
    qty = r.integers(1, 51, n)
    price = np.round(qty * r.uniform(900.0, 1000.0, n), 2)
    disc = r.integers(0, 11, n)
    disc_null = r.random(n) < 0.02
    flag = r.integers(0, 3, n)
    ship = r.integers(0, 2500 * 86400, n) * 1_000_000 + EPOCH_1995.astype(np.int64)
    c1, c2 = r.integers(0, len(COMMENT_WORDS), n), r.integers(0, len(COMMENT_WORDS), n)
    header = "l_orderkey,l_linenumber,l_quantity,l_extendedprice,l_discount,l_returnflag,l_shipdate,l_comment\n"
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    paths = []
    for f in range(n_files):
        lines = [header]
        for i in range(bounds[f], bounds[f + 1]):
            d = "" if disc_null[i] else f"0.{disc[i]:02d}"
            lines.append(f'{okey[i]},{lnum[i]},{qty[i]},{price[i]:.2f},{d},{"ANR"[flag[i]]},'
                         f'{_fmt_ts(ship[i])},"{COMMENT_WORDS[c1[i]]}, {COMMENT_WORDS[c2[i]]}"\n')
        paths.append(os.path.join(out_dir, f"lineitem_{f}.csv"))
        with open(paths[-1], "w") as fh:
            fh.write("".join(lines))
    odate = r.integers(0, 2400, n_orders) * 86400 * 1_000_000 + EPOCH_1995.astype(np.int64)
    prio = r.integers(0, 5, n_orders)
    lines = ["o_orderkey,o_orderpriority,o_orderdate,o_totalprice\n"]
    tot = np.round(r.uniform(1000.0, 500000.0, n_orders), 2)
    for i in range(n_orders):
        lines.append(f'{i},"{PRIORITIES[prio[i]]}",{_fmt_ts(odate[i])},{tot[i]:.2f}\n')
    opath = os.path.join(out_dir, "orders.csv")
    with open(opath, "w") as fh:
        fh.write("".join(lines))
    return paths, opath


def exec_statements(seed, n, n_orders):
    """Statements over the exec CSV tables `lineitem` and `orders`. The
    shapes cycle in a fixed order (join, point, aggregate, top-n) so that
    runs of equal length run the same shapes; the seed picks parameters."""
    r = _rng(seed, "exec")
    out = []
    for i in range(n):
        k = (i + 2) % 4
        if k == 0:
            day = _dt.date(1995, 1, 1) + _dt.timedelta(days=int(r.integers(1500, 2500)))
            out.append(("agg", "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sq, "
                        "sum(l_extendedprice) AS sp, avg(l_discount) AS ad FROM lineitem "
                        f"WHERE l_shipdate <= TIMESTAMP '{day} 00:00:00' "
                        "GROUP BY l_returnflag ORDER BY l_returnflag"))
        elif k == 1:
            out.append(("topn", "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
                        f"WHERE l_quantity > {int(r.integers(20, 45))} AND l_returnflag = "
                        f"'{'ANR'[int(r.integers(0, 3))]}' "
                        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10"))
        elif k == 2:
            day = _dt.date(1995, 1, 1) + _dt.timedelta(days=int(r.integers(0, 2000)))
            out.append(("join", "SELECT o.o_orderpriority, count(*) AS n, sum(l.l_extendedprice) AS rev "
                        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
                        f"WHERE o.o_orderdate >= TIMESTAMP '{day} 00:00:00' "
                        "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"))
        else:
            out.append(("point", "SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_comment, "
                        f"l_shipdate FROM lineitem WHERE l_orderkey = {int(r.integers(0, n_orders))} "
                        "ORDER BY l_linenumber"))
    return out


# ---------------------------------------------------------------- pg_serve

# One 20-statement cycle of the pgwire mix: 45% point lookups, 20%
# aggregates, 10% joins, 10% COPY TO STDOUT, 10% writes, 5% fresh
# connections. The order is fixed, so every run of the same length runs
# the same mix; each client starts at its own offset so clients do not
# run the same class at once. The seed picks every parameter.
SERVE_CYCLE = ("point agg point join point copyout write point agg fresh "
               "point agg point join point copyout write point agg point").split()
WRITE_COLS = ("k", "v", "d")


def serve_ops(seed, clients, n_ops, n_orders, n_payloads):
    """Per-client statement sequences for the pgwire workload: a list per
    client of (class, sql) with class from SERVE_CYCLE. Within a class the
    variants alternate: aggregates between the q1 and q6 shapes, writes
    between a COPY FROM STDIN of payload file `copyin:<i>` and a 20-row
    INSERT ... VALUES, fresh connections between a point lookup and an
    aggregate."""
    r = _rng(seed, "serve")
    plans = []
    for c in range(clients):
        ops, seen = [], {}
        for i in range(n_ops):
            cls = SERVE_CYCLE[(i + 5 * c) % len(SERVE_CYCLE)]
            alt = seen.get(cls, 0) % 2
            seen[cls] = seen.get(cls, 0) + 1
            if cls == "fresh":
                sql = _serve_read(r, ("point", "agg")[alt], n_orders, 0)
            elif cls == "write" and alt == 0:
                sql = f"copyin:{int(r.integers(0, n_payloads))}"
            elif cls == "write":
                base = int(r.integers(0, 1 << 40))
                vals = ", ".join(f"({base + j}, 'ins{c}_{j}', {float(r.integers(0, 10000)) / 100})"
                                 for j in range(20))
                sql = f"INSERT INTO wt VALUES {vals}"
            else:
                sql = _serve_read(r, cls, n_orders, alt)
            ops.append((cls, sql))
        plans.append(ops)
    return plans


def _serve_read(r, cls, n_orders, alt):
    if cls == "point":
        return ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag "
                f"FROM lineitem WHERE l_orderkey = {int(r.integers(0, n_orders))} ORDER BY l_linenumber")
    if cls == "agg":
        day = _dt.date(1995, 1, 1) + _dt.timedelta(days=int(r.integers(1500, 2500)))
        if alt == 0:  # q1 shape
            return ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sq, "
                    "CAST(sum(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,2)) AS rev "
                    f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{day} 00:00:00' "
                    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
        d = r.integers(2, 9) / 100.0  # q6 shape
        return ("SELECT CAST(sum(l_extendedprice * l_discount) AS DECIMAL(38,2)) AS rev FROM lineitem "
                f"WHERE l_shipdate >= TIMESTAMP '{day} 00:00:00' AND l_discount BETWEEN {d - 0.01:.2f} "
                f"AND {d + 0.01:.2f} AND l_quantity < {int(r.integers(20, 30))}")
    if cls == "join":
        return ("SELECT n.n_name, count(*) AS n, CAST(sum(o.o_totalprice) AS DECIMAL(38,2)) AS tot "
                "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
                "JOIN nation n ON c.c_nationkey = n.n_nationkey "
                f"WHERE c.c_mktsegment = '{SEGMENTS[int(r.integers(0, 5))]}' "
                "GROUP BY n.n_name ORDER BY n.n_name")
    if cls == "copyout":
        lo = int(r.integers(0, max(1, n_orders - 800)))
        return ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate FROM lineitem "
                f"WHERE l_orderkey >= {lo} AND l_orderkey < {lo + 750}")
    raise ValueError(cls)


def copy_payloads(seed, n, rows, out_dir):
    """`n` COPY text payload files of `rows` rows each (columns WRITE_COLS)."""
    r = _rng(seed, "copy")
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n):
        ks = r.integers(0, 1 << 40, rows)
        ds = r.integers(0, 100000, rows)
        ws = r.integers(0, len(WORDS), rows)
        paths.append(os.path.join(out_dir, f"copy_{i}.tsv"))
        with open(paths[-1], "w") as fh:
            fh.write("".join(f"{k}\t{WORDS[w]}_{j}\t{d / 100}\n" for j, (k, d, w) in enumerate(zip(ks, ds, ws))))
    return paths


# ---------------------------------------------------------------- federate

FED_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_discount", "l_returnflag", "l_shipdate"]


def shard_loads(seed, n_ord, out_dir, shards=2):
    """Split a seeded lineitem into `shards` disjoint halves (by order key
    parity) and write each as a CSV load file plus the whole as parquet
    (the DuckDB reference). Returns (csv paths, parquet path)."""
    r = _rng(seed, "fed")
    t = lineitem(r, n_ord, 2000, 100).select(FED_COLS)
    os.makedirs(out_dir, exist_ok=True)
    ppath = os.path.join(out_dir, "lineitem_all.parquet")
    pq.write_table(t, ppath)
    cols = {c: t.column(c).to_pylist() for c in FED_COLS}
    okey = np.array(cols["l_orderkey"])
    paths = []
    for s in range(shards):
        idx = np.nonzero(okey % shards == s)[0]
        lines = []
        for i in idx:
            lines.append(",".join(
                str(cols[c][i]) if c != "l_shipdate" else cols[c][i].strftime("%Y-%m-%d %H:%M:%S")
                for c in FED_COLS) + "\n")
        paths.append(os.path.join(out_dir, f"shard_{s}.csv"))
        with open(paths[-1], "w") as fh:
            fh.write("".join(lines))
    return paths, ppath


FED_CYCLE = 5  # four reads and one scatter write


def fed_ops(seed, n):
    """Federate ops cycling through four reads and one scatter write:
    ("read", form, sql) with form `whole` or `pushdown:<where>`, or
    ("write", rows_seed, n_rows). Three of the four reads build the table
    whole and aggregate it, so the read median sits inside that group;
    the fourth pushes a filter down to the shards and takes a top-n. The
    seed picks every parameter."""
    r = _rng(seed, "fedwrite")
    ops = []
    for i in range(n):
        k = i % FED_CYCLE
        if k == 4:
            ops.append(("write", int(r.integers(0, 1 << 31)), 20000))
        elif k == 1:
            q = int(r.integers(30, 49))
            sql = ("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
                   "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10")
            ops.append(("read", f"pushdown:l_quantity > {q}", sql))
        else:
            day = _dt.date(1995, 1, 1) + _dt.timedelta(days=int(r.integers(1500, 2500)))
            sql = ("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sq, "
                   "CAST(sum(l_extendedprice) AS DECIMAL(38,2)) AS sp FROM lineitem "
                   f"WHERE l_shipdate <= TIMESTAMP '{day} 00:00:00' GROUP BY l_returnflag ORDER BY l_returnflag")
            ops.append(("read", "whole", sql))
    return ops
