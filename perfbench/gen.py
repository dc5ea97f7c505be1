"""Seeded inputs for one benchmark run: the tables, the SQL text of every
op with its literals, and the ingest batches.

Everything is drawn from ``numpy.random.default_rng(seed)``, so one seed
always gives the same files and the same op sequence. The program under
test only ever sees what this module writes.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = dt.date(1995, 1, 2)
SPAN_DAYS = 2498  # through 2001-11-04
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]

# Per-workload sizes. `rows` is lineitem's row count; `blocks` the number
# of micro-block files the layout writes. A run does a fixed amount of
# work, whole rounds of a workload's op pattern, however fast the program
# is: `--seconds` / `round_s` rounds, where `round_s` is about how long
# one round took on 4 cores when the benchmark was written.
PARAMS = {
    "block_cache": {"rows": 120000, "blocks": 16, "cache_capacity": 6, "cycle": 12,
                    "reads_per_round": 5, "round_s": 6.5},
    "ingest_read": {"rows": 40000, "blocks": 8, "blocks_per_batch": 2,
                    "batch_rows": 3000, "reads_per_round": 36, "round_s": 28.0},
}
CORES = 4


def ts(day):
    return (FIRST_DAY + dt.timedelta(days=int(day))).isoformat() + " 00:00:00"


def days_to_ts(days):
    base = np.datetime64(FIRST_DAY.isoformat(), "us")
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def lineitem(rng, n, first_orderkey=1):
    """n lineitem rows; (l_orderkey, l_linenumber) is unique."""
    idx = rng.permutation(n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2000.0, n), 2)
    return pa.table({
        "l_orderkey": (idx // 4 + first_orderkey).astype(np.int64),
        "l_partkey": rng.integers(1, max(200, n // 30) + 1, n).astype(np.int64),
        "l_suppkey": rng.integers(1, max(50, n // 600) + 1, n).astype(np.int64),
        "l_linenumber": (idx % 4 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(days_to_ts(rng.integers(0, SPAN_DAYS, n)),
                               pa.timestamp("us")),
    })


def dimensions(rng, n):
    n_orders, n_part, n_supp = n // 4, max(200, n // 30), max(50, n // 600)
    orders = pa.table({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, max(100, n_orders // 10) + 1, n_orders).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, n_orders), 2),
        "o_orderdate": pa.array(days_to_ts(rng.integers(0, SPAN_DAYS, n_orders)),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_orders)]),
    })
    part = pa.table({
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": pa.array([f"part {i}" for i in range(1, n_part + 1)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(11, 56, n_part)]),
        "p_type": pa.array(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                                     "PROMO"])[rng.integers(0, 6, n_part)]),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 2000.0, n_part), 2),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array(NATIONS),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    return {"orders": orders, "part": part, "supplier": supplier, "nation": nation}


class ServeTemplates:
    """The read templates of ingest_read, served through transparent
    `spark.sql`.
    Reads visit the templates in turn, and each template alternates
    between a literal from a small hot set drawn once per seed and a
    fresh draw, so every run holds the same mix of shapes."""

    NAMES = ["zone_agg", "dict_distinct", "aggview", "range", "topk", "dim_join"]
    # served from a sidecar when graft's rules fire as designed
    SERVE = {"zone_agg", "dict_distinct", "aggview"}

    def __init__(self, rng, n_supp, hot=3):
        self.rng = rng
        self.n_supp = n_supp
        self.hot = {t: [self.literals(t) for _ in range(hot)] for t in self.NAMES}

    def literals(self, t):
        r = self.rng
        if t == "aggview":
            return (int(r.integers(1, self.n_supp + 1)),)
        if t == "dim_join":
            a = int(r.integers(0, SPAN_DAYS - 400))
            return (NATIONS[int(r.integers(0, 25))], a, a + int(r.integers(60, 366)))
        if t == "range":
            a = int(r.integers(0, SPAN_DAYS - 130))
            return (a, a + int(r.integers(30, 121)))
        return (int(r.integers(0, SPAN_DAYS)),)

    def sql(self, t, lit):
        if t == "zone_agg":
            return ("SELECT COUNT(*) AS n, MIN(l_linenumber) AS min_ln, "
                    "MAX(l_suppkey) AS max_supp, MAX(l_shipdate) AS max_ship "
                    f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{ts(lit[0])}'")
        if t == "dict_distinct":
            return ("SELECT COUNT(DISTINCT l_suppkey) AS nd FROM lineitem "
                    f"WHERE l_shipdate >= TIMESTAMP '{ts(lit[0])}'")
        if t == "aggview":
            return ("SELECT l_returnflag, COUNT(*) AS n, COUNT(DISTINCT l_suppkey) AS nd, "
                    "MIN(l_suppkey) AS lo, MAX(l_suppkey) AS hi, "
                    "CAST(SUM(l_suppkey) AS BIGINT) AS s "
                    f"FROM lineitem WHERE l_suppkey <= {lit[0]} GROUP BY l_returnflag")
        if t == "range":
            return ("SELECT COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem "
                    f"WHERE l_shipdate >= TIMESTAMP '{ts(lit[0])}' "
                    f"AND l_shipdate < TIMESTAMP '{ts(lit[1])}'")
        if t == "topk":
            return ("SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem "
                    f"WHERE l_shipdate < TIMESTAMP '{ts(lit[0])}' "
                    "ORDER BY l_shipdate DESC, l_orderkey, l_linenumber LIMIT 10")
        return ("SELECT COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem "
                "JOIN supplier ON l_suppkey = s_suppkey "
                "JOIN nation ON s_nationkey = n_nationkey "
                f"WHERE n_name = '{lit[0]}' "
                f"AND l_shipdate >= TIMESTAMP '{ts(lit[1])}' "
                f"AND l_shipdate < TIMESTAMP '{ts(lit[2])}'")

    def op(self, j, hot=None):
        """(template, serve flag, sql) of the j-th read."""
        t = self.NAMES[j % len(self.NAMES)]
        if hot is None:
            hot = (j + j // len(self.NAMES)) % 2 == 0
        lit = (self.hot[t][int(self.rng.integers(0, len(self.hot[t])))] if hot
               else self.literals(t))
        return t, t in self.SERVE, self.sql(t, lit)


def cache_range(lo, hi, between):
    """The block_cache read over [lo, hi) days, written either half-open
    or as the user-style inclusive BETWEEN."""
    where = (f"l_shipdate BETWEEN TIMESTAMP '{ts(lo)}' AND TIMESTAMP '{ts(hi - 1)}'"
             if between else
             f"l_shipdate >= TIMESTAMP '{ts(lo)}' AND l_shipdate < TIMESTAMP '{ts(hi)}'")
    return ("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q, "
            f"MAX(l_extendedprice) AS mx FROM lineitem WHERE {where} "
            "GROUP BY l_returnflag")


def block_cache_ops(rng, p, phase, count):
    """A periodic cycle over `cycle` of the layout's date slices (one
    block each, so the working set is `cycle` blocks against a cache of
    `cache_capacity`). The random share is in the literals: each range
    covers a random inner part of its slice. Ops come in a fixed pattern
    of five whose third op is written as the user-style BETWEEN and the
    rest half-open. A BETWEEN read serves all 16 blocks and misses most
    of them, while the half-open reads mostly hit, so with this fixed mix
    the median falls among half-open reads and the 90th percentile among
    BETWEEN reads."""
    slice_days = SPAN_DAYS / p["blocks"]
    ops = []
    for i in range(count):
        between = i % 5 == 2
        s = (phase + i % p["cycle"]) % p["blocks"]
        lo = int((s + rng.uniform(0.1, 0.35)) * slice_days)
        hi = int((s + 1 - rng.uniform(0.1, 0.35)) * slice_days)
        t = "between" if between else "range"
        hi_lit = ts(hi - 1) if between else ts(hi)
        ops.append(("read", t, False, ts(lo), hi_lit, cache_range(lo, hi, between)))
    return ops


def write_tsv(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write("\t".join("1" if v is True else "0" if v is False else str(v)
                              for v in r) + "\n")


def generate(workload, seed, seconds, work):
    """Write params.tsv, warm.tsv, ops.tsv and data/ under `work`."""
    p = PARAMS[workload]
    rng = np.random.default_rng([seed, sorted(PARAMS).index(workload)])
    data = os.path.join(work, "data")
    os.makedirs(data, exist_ok=True)
    n = p["rows"]
    pq.write_table(lineitem(rng, n), os.path.join(data, "lineitem.parquet"))
    for name, table in dimensions(rng, n).items():
        pq.write_table(table, os.path.join(data, f"{name}.parquet"))
    write_tsv(os.path.join(work, "params.tsv"),
              [(k, v) for k, v in p.items()] + [("cores", CORES)])

    k = p["reads_per_round"]
    n_rounds = max(1, int(seconds / p["round_s"] + 0.5))
    if workload == "block_cache":
        # the set-up pass runs one read of each form, and fits the Markov
        # model on two turns of the cycle ("train" ops only name the
        # ranges whose candidate blocks the model learns from)
        phase = int(rng.integers(0, p["blocks"]))
        warm = block_cache_ops(rng, p, phase, 3)[1:]
        warm += [("train", "range") + op[2:] for op in
                 block_cache_ops(rng, p, phase, 2 * p["cycle"])]
        ops = block_cache_ops(rng, p, phase, n_rounds * k)
    else:
        # a round is one commit and the k reads after it; the set-up pass
        # runs each template once and the first commit
        tpl = ServeTemplates(rng, max(50, n // 600))
        warm = [("read", t, s, "-", "-", q) for t, s, q in
                (tpl.op(j, hot=True) for j in range(len(tpl.NAMES)))]
        ops = []
        next_key = n // 4 + 1
        for b in range(n_rounds + 1):
            batch = lineitem(rng, p["batch_rows"], first_orderkey=next_key)
            next_key += p["batch_rows"] // 4 + 1
            name = f"batch{b:04d}.parquet"
            pq.write_table(batch, os.path.join(data, name))
            entry = ("commit", "commit", False, "-", "-", name)
            if b == 0:
                warm.append(entry)
                continue
            ops.append(entry)
            ops.extend(("read", t, s, "-", "-", q)
                       for t, s, q in (tpl.op((b - 1) * k + j) for j in range(k)))
    write_tsv(os.path.join(work, "warm.tsv"), warm)
    write_tsv(os.path.join(work, "ops.tsv"), ops)
    return n_rounds
