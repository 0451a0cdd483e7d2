"""Independent correctness checks. None uses the engine under test as
its reference: warehouse and BI answers come from DuckDB over the same
Parquet, CDC and curation answers from the generators' own bookkeeping.

Each check returns None when the op's output is right, else a one-line
reason."""
import calendar
import datetime
import itertools
import math

import duckdb

# DuckDB text of each BI template (perfbench/gen.py has the BigQuery text).
DUCK_BI = {
    "point": ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
              "WHERE c_custkey = {k}"),
    "history": ("SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority, "
                "date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-08-02') AS age_days "
                "FROM orders WHERE o_custkey = {k} ORDER BY o_orderdate DESC, o_orderkey"),
    "top1": ("SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
             "WHERE o_custkey BETWEEN {k} AND {k} + 9 "
             "QUALIFY row_number() OVER (PARTITION BY o_custkey "
             "ORDER BY o_totalprice DESC, o_orderkey) = 1"),
    "pricing": ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "sum(l_quantity) AS qty, sum(l_extendedprice) AS base, "
                "sum(l_extendedprice * (1 - l_discount)) AS disc, "
                "count_if(l_discount > 0.05) AS n_disc "
                "FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d}' "
                "GROUP BY l_returnflag, l_linestatus"),
    "segment_revenue": ("SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders, "
                        "sum(l_extendedprice * (1 - l_discount)) AS revenue, "
                        "sum(l_extendedprice) / count(*) AS avg_price "
                        "FROM customer JOIN orders ON c_custkey = o_custkey "
                        "JOIN lineitem ON l_orderkey = o_orderkey "
                        "WHERE c_mktsegment = '{seg}' AND o_orderdate < TIMESTAMP '{d}' "
                        "GROUP BY o_orderpriority"),
    "region_revenue": ("SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
                       "FROM customer JOIN orders ON c_custkey = o_custkey "
                       "JOIN lineitem ON l_orderkey = o_orderkey "
                       "JOIN supplier ON l_suppkey = s_suppkey "
                       "JOIN nation ON s_nationkey = n_nationkey "
                       "JOIN region ON n_regionkey = r_regionkey "
                       "WHERE r_name = '{region}' AND EXTRACT(YEAR FROM o_orderdate) = {year} "
                       "GROUP BY n_name"),
}

# Templates whose result order is part of the answer (a top-level ORDER BY).
ORDERED = {"history"}

BI_TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem"]


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


# ---------------------------------------------------------------------------
# row comparison


def _norm(v):
    if isinstance(v, datetime.datetime):
        return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _is_float(v):
    return isinstance(v, float)


def same_rows(got, want, ordered=False, rel=1e-9, abs_=1e-6):
    """Row comparison; floats compare within a tolerance (summation
    order differs between engines), everything else exactly. With
    `ordered` the rows must come in the expected order, else rows are
    matched on their non-float values."""
    got = [[_norm(v) for v in r] for r in got]
    want = [[_norm(v) for v in r] for r in want]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"

    def key(r):
        return tuple(repr(v) for v in r if not _is_float(v))

    if not ordered:
        got, want = sorted(got, key=key), sorted(want, key=key)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return f"row width {len(g)}, expected {len(w)}"
        for a, b in zip(g, w):
            if _is_float(a) or _is_float(b):
                if a is None or b is None:
                    if a is not b:
                        return f"value {a!r}, expected {b!r}"
                elif not math.isclose(a, b, rel_tol=rel, abs_tol=abs_):
                    return f"value {a!r}, expected {b!r}"
            elif a != b:
                return f"value {a!r}, expected {b!r}"
    return None


# ---------------------------------------------------------------------------
# warehouse_build


def _canon(name, typ):
    t = typ.upper()
    c = f'"{name}"'
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        return f"round(CAST({c} AS DOUBLE), 6)"
    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT", "UBIGINT"):
        return f"CAST({c} AS BIGINT)"
    if t.startswith("TIMESTAMP"):
        return f"epoch_us(CAST({c} AS TIMESTAMP))"
    return f"CAST({c} AS {t})"


def table_digest(con, relation, schema):
    """(row count, order-independent hash) of `relation` with columns
    canonicalised by the oracle's `schema` [(name, type)]."""
    cols = sorted(schema)
    exprs = ", ".join(_canon(n, t) for n, t in cols)
    return con.execute(
        f"SELECT count(*), coalesce(sum(hash({exprs})::HUGEINT), 0) FROM {relation}"
    ).fetchone()


class WarehouseOracle:
    """Replays ReferenceModelOracles' DuckDB SQL over the generated
    sources once per run; every build's output is compared with it."""

    def __init__(self, user_base_sql, checks_sql):
        self.con = connect()
        self.con.execute(f"CREATE TABLE expected AS {user_base_sql}")
        self.schema = [(r[0], r[1]) for r in
                       self.con.execute("DESCRIBE expected").fetchall()]
        self.digest = table_digest(self.con, "expected", self.schema)
        self.violations = {r[0]: int(r[1]) for r in self.con.execute(checks_sql).fetchall()}

    def check(self, payload):
        status = payload["status"]
        bad = [m for m, s in status.items() if m != "user_base" and s != "success"]
        if bad:
            return f"models failed: {bad}"
        want_fail = {k: v for k, v in self.violations.items() if v > 0}
        if payload["violations"] != want_fail:
            return f"check violations {payload['violations']}, expected {want_fail}"
        rel = f"read_parquet('{payload['dir']}/*.parquet')"
        cols = {r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()}
        if cols != {n for n, _ in self.schema}:
            return f"columns {sorted(cols)}, expected {sorted(n for n, _ in self.schema)}"
        got = table_digest(self.con, rel, self.schema)
        if tuple(got) != tuple(self.digest):
            return f"user_base digest {got}, expected {self.digest}"
        return None


# ---------------------------------------------------------------------------
# bi_queries


class BiOracle:
    def __init__(self, data):
        self.con = connect()
        for t in BI_TABLES:
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        self.cache = {}

    def expected(self, q):
        sql = DUCK_BI[q["template"]].format(**q["params"])
        if sql not in self.cache:
            self.cache[sql] = self.con.execute(sql).fetchall()
        return self.cache[sql]

    def check(self, q, payload):
        if payload["template"] != q["template"]:
            return f"ran template {payload['template']}, expected {q['template']}"
        return same_rows(payload["rows"], self.expected(q), q["template"] in ORDERED)


# ---------------------------------------------------------------------------
# cdc_upsert


def check_cdc(expected, payload):
    e = expected[payload["batch"]]
    want_point = [e["row"]] if e["row"] is not None else []
    got_point = [list(r) for r in payload["point"]]
    if got_point != want_point:
        return f"batch {payload['batch']}: point read {got_point}, expected {want_point}"
    if payload["count"] != e["count"] or payload["sum_v"] != e["sum_v"]:
        return (f"batch {payload['batch']}: count/sum {payload['count']}/{payload['sum_v']}, "
                f"expected {e['count']}/{e['sum_v']}")
    return None


# ---------------------------------------------------------------------------
# curation_dedup


def planted_recall(truth, components):
    """Share of planted near-duplicate pairs whose two documents end in
    the same component."""
    comp = {int(n): int(c) for n, c in components}
    pairs = [(a, b) for cl in truth["near_clusters"] for a, b in itertools.combinations(cl, 2)]
    found = sum(1 for a, b in pairs if a in comp and comp.get(a) == comp.get(b))
    return found / len(pairs)


def check_curation(truth, payload):
    if payload["rejected"] != truth["gate_rejects"]:
        return (f"gate rejected {len(payload['rejected'])} docs, "
                f"planted {len(truth['gate_rejects'])}")
    got = sorted((int(k), int(n)) for k, n in payload["exact_groups"])
    want = sorted((min(g), len(g)) for g in truth["exact_groups"])
    if got != want:
        return f"{len(got)} exact-duplicate groups, planted {len(want)}"
    r = planted_recall(truth, payload["components"])
    if r < truth["recall_floor"]:
        return f"near-duplicate recall {r:.3f} below floor {truth['recall_floor']}"
    return None
