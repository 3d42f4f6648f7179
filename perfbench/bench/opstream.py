"""Seeded op streams for the four workloads.

Everything a run sends to the engine is generated here from the seed:
SQL literals, keys, change batches and operator shards. The same seed
gives a byte-identical stream. Each workload's stream also carries the
expectations the JVM side checks answers against.
"""

import datetime
import random

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]

# Closed-loop client counts; no workload uses more than the 4 cores.
CLIENTS = {"analytics": 1, "serving": 2, "ingest": 1, "pipeline": 1}


def _day(d):
    return d.isoformat()


def _plus_days(y, m, d, n):
    return datetime.date(y, m, d) + datetime.timedelta(days=n)


# ---- analytics ---------------------------------------------------------

# sf0.1 cardinalities (lineitem: four lines per order, about 600k)
ANALYTICS_SCALE = {"orders": 150000, "customers": 15000, "parts": 20000, "suppliers": 1000}
VIEW_NAME = "mv_dashboard"
VIEW_SQL = ("SELECT l_returnflag, l_shipmode, sum(l_quantity) AS sq, count(*) AS n "
            "FROM lineitem GROUP BY l_returnflag, l_shipmode")


def _q1(r, t):
    d = _plus_days(1998, 12, 1, -r.randint(60, 120))
    return (f"SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            f"sum(l_extendedprice) AS sum_base, "
            f"sum(l_extendedprice * (100 - l_discount)) AS sum_disc, "
            f"sum(l_extendedprice * (100 - l_discount) * (100 + l_tax)) AS sum_charge, "
            f"count(*) AS n FROM {t['lineitem']} WHERE l_shipdate <= DATE'{_day(d)}' "
            f"GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")


def _q3(r, t):
    d = _plus_days(1995, 3, 1, r.randint(0, 30))
    return (f"SELECT l_orderkey, sum(l_extendedprice * (100 - l_discount)) AS revenue, "
            f"o_orderdate, o_shippriority FROM {t['customer']}, {t['orders']}, {t['lineitem']} "
            f"WHERE c_mktsegment = '{r.choice(SEGMENTS)}' AND c_custkey = o_custkey "
            f"AND l_orderkey = o_orderkey AND o_orderdate < DATE'{_day(d)}' "
            f"AND l_shipdate > DATE'{_day(d)}' "
            f"GROUP BY l_orderkey, o_orderdate, o_shippriority "
            f"ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10")


def _q5(r, t):
    y = r.randint(1993, 1997)
    return (f"SELECT n_name, sum(l_extendedprice * (100 - l_discount)) AS revenue "
            f"FROM {t['customer']}, {t['orders']}, {t['lineitem']}, {t['supplier']}, "
            f"{t['nation']}, {t['region']} "
            f"WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
            f"AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
            f"AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
            f"AND r_name = '{r.choice(REGIONS)}' AND o_orderdate >= DATE'{y}-01-01' "
            f"AND o_orderdate < DATE'{y + 1}-01-01' "
            f"GROUP BY n_name ORDER BY revenue DESC, n_name")


def _q6(r, t):
    y = r.randint(1993, 1997)
    disc = r.randint(2, 8)
    return (f"SELECT sum(l_extendedprice * l_discount) AS revenue FROM {t['lineitem']} "
            f"WHERE l_shipdate >= DATE'{y}-01-01' AND l_shipdate < DATE'{y + 1}-01-01' "
            f"AND l_discount BETWEEN {disc - 1} AND {disc + 1} "
            f"AND l_quantity < {r.randint(24, 25)}")


def _q10(r, t):
    m = r.randint(0, 23)
    y, mo = 1993 + m // 12, 1 + m % 12
    y2, mo2 = (y + (mo + 2) // 12, (mo + 2) % 12 + 1)
    return (f"SELECT c_custkey, c_name, sum(l_extendedprice * (100 - l_discount)) AS revenue, "
            f"c_acctbal, n_name FROM {t['customer']}, {t['orders']}, {t['lineitem']}, "
            f"{t['nation']} WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
            f"AND o_orderdate >= DATE'{y}-{mo:02d}-01' AND o_orderdate < DATE'{y2}-{mo2:02d}-01' "
            f"AND l_returnflag = 'R' AND c_nationkey = n_nationkey "
            f"GROUP BY c_custkey, c_name, c_acctbal, n_name "
            f"ORDER BY revenue DESC, c_custkey LIMIT 20")


def _q12(r, t):
    m1, m2 = sorted(r.sample(SHIPMODES, 2))
    y = r.randint(1993, 1997)
    return (f"SELECT l_shipmode, "
            f"sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high, "
            f"sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low "
            f"FROM {t['orders']}, {t['lineitem']} WHERE o_orderkey = l_orderkey "
            f"AND l_shipmode IN ('{m1}', '{m2}') AND l_commitdate < l_receiptdate "
            f"AND l_shipdate < l_commitdate AND l_receiptdate >= DATE'{y}-01-01' "
            f"AND l_receiptdate < DATE'{y + 1}-01-01' GROUP BY l_shipmode ORDER BY l_shipmode")


def _q14(r, t):
    m = r.randint(0, 59)
    y, mo = 1993 + m // 12, 1 + m % 12
    y2, mo2 = (y + 1, 1) if mo == 12 else (y, mo + 1)
    return (f"SELECT sum(CASE WHEN p_type LIKE 'PROMO%' "
            f"THEN l_extendedprice * (100 - l_discount) ELSE 0 END) AS promo, "
            f"sum(l_extendedprice * (100 - l_discount)) AS total "
            f"FROM {t['lineitem']}, {t['part']} WHERE l_partkey = p_partkey "
            f"AND l_shipdate >= DATE'{y}-{mo:02d}-01' AND l_shipdate < DATE'{y2}-{mo2:02d}-01'")


def _q18(r, t):
    return (f"SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
            f"sum(l_quantity) AS qty FROM {t['customer']}, {t['orders']}, {t['lineitem']} "
            f"WHERE o_orderkey IN (SELECT l_orderkey FROM {t['lineitem']} GROUP BY l_orderkey "
            f"HAVING sum(l_quantity) > {r.randint(150, 165)}) "
            f"AND c_custkey = o_custkey AND o_orderkey = l_orderkey "
            f"GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
            f"ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100")


def _dict_groupby(r, t):
    c = r.choice(["l_shipmode", "l_returnflag", "l_linestatus"])
    return (f"SELECT {c}, count(*) AS n, sum(l_quantity) AS q FROM {t['lineitem']} "
            f"GROUP BY {c} HAVING count(*) > {r.randint(0, 1000)} ORDER BY {c}")


def _cobucket_join(r, t):
    m = r.randint(0, 67)
    y, mo = 1992 + m // 12, 1 + m % 12
    y2, mo2 = (y + (mo + 2) // 12, (mo + 2) % 12 + 1)
    return (f"SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS q "
            f"FROM {t['orders']} JOIN {t['lineitem']} ON o_orderkey = l_orderkey "
            f"WHERE o_orderdate >= DATE'{y}-{mo:02d}-01' AND o_orderdate < DATE'{y2}-{mo2:02d}-01' "
            f"GROUP BY o_orderpriority ORDER BY o_orderpriority")


def _dashboard(r, t):
    m1, m2 = sorted(r.sample(SHIPMODES, 2))
    return (f"SELECT l_returnflag, l_shipmode, sum(l_quantity) AS sq, count(*) AS n "
            f"FROM {t['lineitem']} WHERE l_shipmode IN ('{m1}', '{m2}') "
            f"GROUP BY l_returnflag, l_shipmode ORDER BY l_returnflag, l_shipmode")


TEMPLATES = {
    "q1": _q1, "q3": _q3, "q5": _q5, "q6": _q6, "q10": _q10, "q12": _q12,
    "q14": _q14, "q18": _q18, "dict_groupby": _dict_groupby,
    "cobucket_join": _cobucket_join, "dashboard": _dashboard,
}
TABLES = ["lineitem", "orders", "customer", "part", "supplier", "nation", "region"]
STORE = {t: t for t in TABLES}
RAW = {t: "raw_" + t for t in TABLES}
CHECK_SEED = 20240601


def analytics(seed, n_ops=3000):
    r = random.Random(seed)
    ops = []
    while len(ops) < n_ops:
        # rounds of every template in one fixed order: a run of any length
        # sees the same mix whatever the seed; the seed picks the literals
        for name in sorted(TEMPLATES):
            ops.append({"id": len(ops), "kind": name, "sql": TEMPLATES[name](r, STORE),
                        "view_eligible": name == "dashboard"})
    checks = []
    for i, name in enumerate(sorted(TEMPLATES)):
        # one parameter draw, rendered over the store tables and the raw frames
        params = random.Random(CHECK_SEED + i)
        state = params.getstate()
        sql = TEMPLATES[name](params, STORE)
        params.setstate(state)
        checks.append({"id": 2000000000 + i, "name": name, "sql": sql,
                       "raw_sql": TEMPLATES[name](params, RAW)})
    return {"scale": ANALYTICS_SCALE, "buckets": 8, "view_name": VIEW_NAME,
            "view_sql": VIEW_SQL, "ops": ops, "checks": checks, "round": len(TEMPLATES)}


# ---- serving -----------------------------------------------------------

SERVING_SCALE = {"orders": 150000, "customers": 15000}  # sf0.1 cardinalities
OWN_KEY_BASE = 10_000_000  # client c writes keys in [(c+1)*base, (c+2)*base)
# Warm-up ops get negative ids: the traced run attributes Spark work by
# op id, and no measured op or check has a negative one.
WARMUP_IDS = -1_000_000


# One client's op rotation: 35% column-table PK reads, 35% row-table PK
# reads, 10% indexed range reads, 20% writes. A fixed order keeps the mix
# the same in every run; the seed picks keys and values.
SERVING_ROTATION = ["pk_column", "pk_row", "pk_column", "pk_row", "insert", "pk_column",
                    "pk_row", "range_row", "pk_column", "pk_row", "put", "pk_column",
                    "pk_row", "pk_column", "pk_row", "insert", "pk_column", "pk_row",
                    "range_row", "update"]


def _serving_client(r, client, n_ops, first_id):
    own_orders, own_custs = {}, {}
    next_key = (client + 1) * OWN_KEY_BASE
    ops = []
    for i in range(n_ops):
        oid = first_id + i
        kind = SERVING_ROTATION[i % len(SERVING_ROTATION)]
        if kind == "pk_column":
            if own_orders and r.random() < 0.3:
                k = r.choice(sorted(own_orders))
                expect = {"rows": [own_orders[k]]}
            else:
                k = r.randint(1, SERVING_SCALE["orders"])
                expect = {"count": 1}
            ops.append({"id": oid, "kind": "read_pk_column", "write": False, "expect": expect,
                        "sql": "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority "
                               f"FROM graft.sv_orders WHERE o_orderkey = {k}"})
        elif kind == "pk_row":
            if own_custs and r.random() < 0.3:
                k = r.choice(sorted(own_custs))
                expect = {"rows": [own_custs[k]]}
            else:
                k = r.randint(1, SERVING_SCALE["customers"])
                expect = {"count": 1}
            ops.append({"id": oid, "kind": "read_pk_row", "write": False, "expect": expect,
                        "sql": "SELECT c_custkey, c_name, c_acctbal FROM graft.sv_customer "
                               f"WHERE c_custkey = {k}"})
        elif kind == "range_row":
            lo = r.randint(-100000, 990000)
            hi = lo + 2000
            ops.append({"id": oid, "kind": "read_range_row", "write": False,
                        "expect": {"range": [1, lo, hi]},
                        "sql": "SELECT c_custkey, c_acctbal FROM graft.sv_customer "
                               f"WHERE c_acctbal BETWEEN {lo} AND {hi}"})
        elif kind == "insert":
            k = next_key
            next_key += 1
            cust, price = r.randint(1, SERVING_SCALE["customers"]), r.randint(100000, 9999999)
            own_orders[k] = [str(k), str(cust), str(price), "3-MEDIUM"]
            ops.append({"id": oid, "kind": "write_insert", "write": True,
                        "sql": f"INSERT INTO graft.sv_orders VALUES ({k}, {cust}, 'O', {price}, "
                               "DATE'1998-06-01', '3-MEDIUM', 0)"})
        elif kind == "put":
            if own_custs and r.random() < 0.5:
                k = r.choice(sorted(own_custs))
            else:
                k = next_key
                next_key += 1
            bal = r.randint(2000000, 2999999)
            name = f"Client{client}#{k}"
            own_custs[k] = [str(k), name, str(bal)]
            ops.append({"id": oid, "kind": "write_put", "write": True,
                        "sql": f"PUT INTO sv_customer VALUES ({k}, '{name}', "
                               f"{r.randint(0, 24)}, {bal}, 'BUILDING')"})
        else:  # update: the rotation puts a put before the first update
            k = r.choice(sorted(own_custs))
            bal = r.randint(2000000, 2999999)
            own_custs[k] = [own_custs[k][0], own_custs[k][1], str(bal)]
            ops.append({"id": oid, "kind": "write_update", "write": True,
                        "sql": f"UPDATE sv_customer SET c_acctbal = {bal} WHERE c_custkey = {k}"})
    return ops


def serving(seed, n_ops=4000):
    r = random.Random(seed)
    clients = [_serving_client(r, c, n_ops, c * n_ops) for c in range(CLIENTS["serving"])]
    # warm-up: whole rounds per client, writes included, on keys of their
    # own (client numbers past the measured clients). JIT warm-up of the
    # statement path takes about this long; shorter warm-ups left the
    # measured window still speeding up.
    fixed = random.Random(CHECK_SEED)
    n_warm = 4 * len(SERVING_ROTATION)
    warmup = [_serving_client(fixed, CLIENTS["serving"] + c, n_warm, WARMUP_IDS + c * n_warm)
              for c in range(CLIENTS["serving"])]
    return {"scale": SERVING_SCALE, "buckets": 8, "clients": clients, "warmup": warmup,
            "round": len(SERVING_ROTATION)}


# ---- ingest ------------------------------------------------------------

INGEST_BASE_ROWS = 20000
INGEST_CUSTOMERS = 50
BATCH_EVENTS = 2000
KINDS = ["append", "delete", "update", "mixed"]
MAINTAIN_EVERY = 4
INGEST_VIEWS = ["mv_sales_cust", "mv_sales_region"]
INGEST_VIEW_SQL = [
    "SELECT cust, sum(amount) AS s, count(*) AS n FROM ig_sales GROUP BY cust",
    "SELECT ig_cust.region, sum(ig_sales.amount) AS s, count(*) AS n "
    "FROM ig_sales JOIN ig_cust ON ig_sales.cust = ig_cust.cust GROUP BY ig_cust.region",
]
INGEST_DASHBOARD = (
    "SELECT ig_cust.region, sum(ig_sales.amount) AS s, count(*) AS n "
    "FROM ig_sales JOIN ig_cust ON ig_sales.cust = ig_cust.cust "
    "GROUP BY ig_cust.region ORDER BY ig_cust.region")
INSERT, UPDATE, DELETE = 0, 1, 2


class _SalesModel:
    """The expected content of ig_sales, to predict dashboard answers."""

    def __init__(self, r):
        self.rows = {}
        self.agg = {}  # region -> [sum(amount), count], kept in step with rows
        for k in range(INGEST_BASE_ROWS):
            self._put(k, (r.randrange(INGEST_CUSTOMERS), r.randint(1, 1000), r.randint(1, 20)))
        self.next_key = INGEST_BASE_ROWS
        self.ord = 0

    def _add(self, row, sign):
        a = self.agg.setdefault(REGIONS[row[0] % len(REGIONS)], [0, 0])
        a[0] += sign * row[1]
        a[1] += sign

    def _put(self, k, row):
        if k in self.rows:
            self._add(self.rows[k], -1)
        self.rows[k] = row
        self._add(row, 1)

    def _drop(self, k):
        self._add(self.rows.pop(k), -1)

    def dashboard(self):
        return [[reg, str(s), str(n)] for reg, (s, n) in sorted(self.agg.items()) if n]

    def events(self, r, inserts, updates, deletes):
        live = sorted(self.rows)
        touched = r.sample(live, updates + deletes)
        out = []
        for k in touched[:updates]:
            cust, _, qty = self.rows[k]
            amount = r.randint(1, 1000)
            self._put(k, (cust, amount, qty))
            out.append([UPDATE, k, cust, amount, qty])
        for k in touched[updates:]:
            self._drop(k)
            out.append([DELETE, k, 0, 0, 0])
        for _ in range(inserts):
            k = self.next_key
            self.next_key += 1
            row = (r.randrange(INGEST_CUSTOMERS), r.randint(1, 1000), r.randint(1, 20))
            self._put(k, row)
            out.append([INSERT, k, *row])
        r.shuffle(out)
        batch = []
        for e in out:
            self.ord += 1
            batch.append(e + [self.ord])
        return batch

    def key_range(self, r, width):
        live = sorted(self.rows)
        i = r.randrange(len(live) - width)
        return live[i], live[i + width - 1]

    def sql_update(self, r):
        lo, hi = self.key_range(r, 50)
        d = r.randint(1, 9)
        n = 0
        for k in range(lo, hi + 1):
            if k in self.rows:
                cust, amount, qty = self.rows[k]
                self._put(k, (cust, amount + d, qty))
                n += 1
        return f"UPDATE ig_sales SET amount = amount + {d} WHERE k BETWEEN {lo} AND {hi}", n

    def sql_delete(self, r):
        lo, hi = self.key_range(r, 50)
        gone = [k for k in range(lo, hi + 1) if k in self.rows]
        for k in gone:
            self._drop(k)
        return f"DELETE FROM ig_sales WHERE k BETWEEN {lo} AND {hi}", len(gone)

    def sql_insert(self, r, n):
        values = []
        for _ in range(n):
            k = self.next_key
            self.next_key += 1
            row = (r.randrange(INGEST_CUSTOMERS), r.randint(1, 1000), r.randint(1, 20))
            self._put(k, row)
            values.append(f"({k}, {row[0]}, {row[1]}, {row[2]})")
        return "INSERT INTO ig_sales VALUES " + ", ".join(values), n


def _ingest_cycle(model, r, kind, maintain):
    if kind == "append":
        events = model.events(r, BATCH_EVENTS, 0, 0)
    elif kind == "delete":
        events = model.events(r, 0, 0, BATCH_EVENTS)
    elif kind == "update":
        events = model.events(r, 0, BATCH_EVENTS, 0)
    else:
        third = BATCH_EVENTS // 3
        events = model.events(r, third, third, BATCH_EVENTS - 2 * third)
    # CDC updates upsert (tombstone + append), a different move from SQL
    # UPDATE's in-place deltas: those cycles refresh after each step so
    # both moves reach the views separately
    expect_cdc = model.dashboard() if kind in ("update", "mixed") else None
    stmts = {"append": lambda: [model.sql_insert(r, 20)],
             "delete": lambda: [model.sql_delete(r)],
             "update": lambda: [model.sql_update(r)],
             "mixed": lambda: [model.sql_update(r), model.sql_delete(r)]}[kind]()
    return {"kind": kind, "events": events, "sql": [s for s, _ in stmts],
            "rows": len(events) + sum(n for _, n in stmts),
            "expect_cdc": expect_cdc, "expect_sql": model.dashboard(), "maintain": maintain}


def ingest(seed, n_cycles=24):
    r = random.Random(seed)
    model = _SalesModel(r)
    base = [[k, *row] for k, row in sorted(model.rows.items())]
    dims = [[c, REGIONS[c % len(REGIONS)]] for c in range(INGEST_CUSTOMERS)]
    # warm-up runs after the last load: one cycle of each refresh shape
    warm_r = random.Random(CHECK_SEED)
    warmup = [_ingest_cycle(model, warm_r, k, False) for k in ("append", "update")]
    ops = []
    for i in range(n_cycles):
        c = _ingest_cycle(model, r, KINDS[i % len(KINDS)], (i + 1) % MAINTAIN_EVERY == 0)
        c["id"] = i
        ops.append(c)
    return {"buckets": 4, "base": base, "dims": dims, "views": INGEST_VIEWS,
            "view_sql": INGEST_VIEW_SQL, "dashboard": INGEST_DASHBOARD,
            "warmup": warmup, "ops": ops, "round": len(KINDS)}


# ---- pipeline ----------------------------------------------------------

PIPELINE_DOCS = 5000  # sf0.1 documents and embeddings
PIPELINE_VECTORS = 2000
PIPELINE_DIMS = 64
OPERATORS = ["minhash", "exact_dedup", "dup_clusters", "tfidf", "brute_topk"]
DOC_SHARD = 300
VEC_SHARD = 600


def _pipeline_op(r, kind):
    if kind == "brute_topk":
        lo = r.randrange(PIPELINE_VECTORS - VEC_SHARD)
        return {"kind": kind, "lo": lo, "hi": lo + VEC_SHARD,
                "queries": sorted(r.sample(range(lo, lo + VEC_SHARD), 8))}
    lo = r.randrange(PIPELINE_DOCS - DOC_SHARD)
    return {"kind": kind, "lo": lo, "hi": lo + DOC_SHARD}


def pipeline(seed, n_ops=600):
    r = random.Random(seed)
    ops = []
    while len(ops) < n_ops:
        # fixed operator rotation, seeded shards (see analytics)
        for k in OPERATORS:
            op = _pipeline_op(r, k)
            op["id"] = len(ops)
            ops.append(op)
    fixed = random.Random(CHECK_SEED)
    warmup = [_pipeline_op(fixed, k) for _ in range(2) for k in OPERATORS]
    return {"documents": PIPELINE_DOCS, "vectors": PIPELINE_VECTORS, "dims": PIPELINE_DIMS,
            "ops": ops, "warmup": warmup, "round": len(OPERATORS)}


GENERATORS = {"analytics": analytics, "serving": serving, "ingest": ingest,
              "pipeline": pipeline}


def generate(workload, seed):
    return GENERATORS[workload](seed)
