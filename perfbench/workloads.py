"""Seeded statement plans for the workloads.

A plan is the full, fixed statement sequence of one run: set-up DDL and
bulk load, warm-up, and the measured statements. Each measured statement
carries how its answer is checked after the run:

  - "duckdb": the same SQL runs in DuckDB over the source parquet, with
    views named like the engine's tables;
  - "rows":   the expected rows come from the in-memory model of the
    benchmark-owned key range (dml_mixed);
  - "base_plus": DuckDB's count and sum of the loaded rows plus the
    model's (dml_mixed whole-table reads).

The engine sees only the generated SQL text. Statements use standard
single-quoted literals and no comments: the dialect defects with
double-quoted literals and leading comments are not exercised here.

Statements come in balanced blocks (every block holds each template class
once, in a seeded order with seeded parameters), so two seeds differ in
order and parameters but not in the mix of work. Range parameters have a
fixed width, so every seed reads about the same number of rows.
"""
import datetime
import random

import datagen

# Statement blocks per second of --seconds, sized so the measured window
# is about --seconds long on a 4-core host. It fixes the statement count,
# so both sides of a comparison run the same sequence.
BLOCKS_PER_S = {"olap_read": 0.2, "dml_mixed": 0.13}
# Set-up (engine, DDL, bulk load) repetitions per run; setup_s takes their
# median.
SETUP_REPS = 2

SCHEMAS = {
    "lineitem": [("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"),
                 ("l_suppkey", "BIGINT"), ("l_linenumber", "INT"),
                 ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
                 ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"),
                 ("l_returnflag", "STRING"), ("l_linestatus", "STRING"),
                 ("l_shipdate", "TIMESTAMP")],
    "orders": [("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"),
               ("o_orderstatus", "STRING"), ("o_totalprice", "DOUBLE"),
               ("o_orderdate", "TIMESTAMP"), ("o_orderpriority", "STRING")],
    "customer": [("c_custkey", "BIGINT"), ("c_name", "STRING"),
                 ("c_nationkey", "INT"), ("c_acctbal", "DOUBLE"),
                 ("c_mktsegment", "STRING")],
}

# dml_mixed writes only keys from OWNED upward, above every source key;
# its warm-up writes keys in [WARM, OWNED).
OWNED = 1_000_000_000
WARM = 900_000_000


def cents(col):
    """Exact money sum: whole cents as BIGINT on both engines."""
    return f"CAST(sum(CAST(round({col} * 100) AS BIGINT)) AS BIGINT)"


def ts(days):
    d = datetime.date(1995, 1, 1) + datetime.timedelta(days=int(days))
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def create_table(name, src, key, buckets):
    cols = ", ".join(f"{c} {t}" for c, t in SCHEMAS[src])
    return (f"CREATE TABLE {name} ({cols}) "
            f"PARTITION BY ({key}) WITH BUCKETS {buckets}")


def n_blocks(workload, seconds):
    return max(1, round(seconds * BLOCKS_PER_S[workload]))


def stmt(cls, sql, check, **kw):
    return dict(cls=cls, sql=sql, check=check, **kw)


# --- olap_read ---------------------------------------------------------

def _olap_lookups(rng, n):
    k, k2 = rng.randrange(n["orders"]), rng.randrange(n["orders"])
    ks = sorted(rng.sample(range(n["orders"]), 4))
    c = rng.randrange(n["customer"])
    return [
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM "
        f"orders_d WHERE o_orderkey = {k2}",
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
        f"l_extendedprice, l_returnflag FROM lineitem_d WHERE l_orderkey = {k}",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderpriority FROM orders_d WHERE o_orderkey IN "
        f"({', '.join(map(str, ks))})",
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        f"FROM customer_d WHERE c_custkey = {c}",
        "SELECT l_orderkey, count(*) AS n, sum(l_quantity) AS qty FROM "
        f"lineitem_d WHERE l_orderkey IN ({', '.join(map(str, ks))}) "
        "GROUP BY l_orderkey",
    ]


def _olap_queries(rng):
    span = datagen.DATE_SPAN_DAYS
    d = rng.randrange(2000, 2200)
    d1 = rng.randrange(0, span - 240)
    ptype = rng.choice(datagen.PART_TYPES)
    # l_quantity is whole, so every cut in [24, 25) reads the same rows.
    qty = 24 + rng.randrange(1000) / 1000
    seg = rng.choice(datagen.SEGMENTS)
    d3 = rng.randrange(0, span - 365)
    d4 = rng.randrange(0, span - 365)
    return [
        "SELECT o_orderstatus, count(*) AS n, "
        f"{cents('o_totalprice')} AS total_cents FROM orders_d "
        f"WHERE o_orderdate >= {ts(d4)} AND o_orderdate < {ts(d4 + 365)} "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus",
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "sum(l_quantity) AS sum_qty, "
        f"{cents('l_extendedprice')} AS sum_price_cents, "
        "min(l_discount) AS min_disc, max(l_tax) AS max_tax "
        f"FROM lineitem_d WHERE l_shipdate <= {ts(d)} "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
        "SELECT o.o_orderpriority, count(*) AS n, "
        f"{cents('l.l_extendedprice')} AS revenue_cents "
        "FROM orders_d o JOIN lineitem_d l ON o.o_orderkey = l.l_orderkey "
        f"WHERE o.o_orderdate >= {ts(d1)} AND o.o_orderdate < {ts(d1 + 240)} "
        "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority",
        "SELECT p.p_brand, s.s_nationkey, count(*) AS n, "
        f"{cents('l.l_extendedprice')} AS revenue_cents "
        "FROM lineitem_d l JOIN part p ON l.l_partkey = p.p_partkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        f"WHERE p.p_type = '{ptype}' AND l.l_quantity < {qty} "
        "GROUP BY p.p_brand, s.s_nationkey "
        "ORDER BY revenue_cents DESC, p.p_brand, s.s_nationkey LIMIT 20",
        "SELECT c.c_custkey, c.c_name, count(*) AS n_orders, "
        f"{cents('o.o_totalprice')} AS total_cents "
        "FROM customer_d c JOIN orders_d o ON c.c_custkey = o.o_custkey "
        f"WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate >= {ts(d3)} "
        f"AND o.o_orderdate < {ts(d3 + 365)} "
        "GROUP BY c.c_custkey, c.c_name "
        "ORDER BY total_cents DESC, c.c_custkey LIMIT 10",
    ]


def olap_read(seed, seconds, scale):
    n = datagen.sizes(scale)
    setup = []
    for name, src, key in [("lineitem_d", "lineitem", "l_orderkey"),
                           ("orders_d", "orders", "o_orderkey"),
                           ("customer_d", "customer", "c_custkey")]:
        setup.append(stmt("ddl", create_table(name, src, key, 8), None))
        setup.append(stmt("load", f"INSERT INTO {name} SELECT * FROM {src}",
                          None))
    # Two warm-up blocks: after one, scans were still getting faster
    # through the measured window.
    warm_rng = random.Random(0)
    warm_sql = [q for _ in range(2)
                for q in _olap_lookups(warm_rng, n) + _olap_queries(warm_rng)]
    warmup = [stmt("warm", q, None) for q in warm_sql]
    # Every statement is new SQL text within the run: a statement that
    # repeats an earlier one's text ran up to twice as fast, so the number
    # of chance repeats would otherwise differ from seed to seed.
    seen = set(warm_sql)
    rng = random.Random(seed)
    body = []
    for _ in range(n_blocks("olap_read", seconds)):
        for _ in range(100):
            lookups, queries = _olap_lookups(rng, n), _olap_queries(rng)
            if not seen.intersection(lookups + queries):
                break
        else:
            raise ValueError("too many blocks for distinct statements; "
                             "use a smaller --seconds")
        seen.update(lookups + queries)
        block = ([stmt("lookup", q, "duckdb", explain=True) for q in lookups]
                 + [stmt("query", q, "duckdb") for q in queries])
        rng.shuffle(block)
        body += block
    return dict(sources=["lineitem", "orders", "customer", "part",
                         "supplier"],
                setup=setup, warmup=warmup, statements=body,
                duckdb_views={"lineitem_d": "lineitem", "orders_d": "orders",
                               "customer_d": "customer", "part": "part",
                               "supplier": "supplier"})


# --- dml_mixed ---------------------------------------------------------

class OwnedModel:
    """Live rows of the benchmark-owned key range, as the engine should
    hold them after each statement."""

    def __init__(self, rng, next_key):
        self.rng = rng
        self.rows = {}  # key -> [custkey, status, price_cents, days, prio]
        self.next_key = next_key

    def new_row(self):
        r = self.rng
        return [r.randrange(1000), r.choice("FOP"), r.randrange(100, 10**7),
                r.randrange(datagen.DATE_SPAN_DAYS),
                r.choice(datagen.PRIORITIES)]

    def fresh_keys(self, n):
        ks = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return ks

    def live(self, n):
        keys = sorted(self.rows)
        return sorted(self.rng.sample(keys, min(n, len(keys))))

    @staticmethod
    def values_sql(view, rows):
        vals = ", ".join(
            f"({k}, {c}, '{s}', {p / 100!r}, {ts(d)}, '{pr}')"
            for k, (c, s, p, d, pr) in rows)
        return (f"CREATE OR REPLACE TEMP VIEW {view} AS SELECT "
                "CAST(k AS BIGINT) AS o_orderkey, CAST(c AS BIGINT) AS "
                "o_custkey, s AS o_orderstatus, CAST(p AS DOUBLE) AS "
                "o_totalprice, d AS o_orderdate, pr AS o_orderpriority "
                f"FROM VALUES {vals} AS v(k, c, s, p, d, pr)")


def _lookup_sql(key):
    return ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            f"o_orderpriority FROM orders_w WHERE o_orderkey = {key}")


def _dml_block(rng, model, base_keys, i):
    """The four row-level write classes in seeded order, then a range
    UPDATE over many buckets (odd blocks) or the periodic OPTIMIZE (even
    blocks). Every write is followed by a single-key lookup and a
    whole-table query, so both reads land inside the freshness guard and
    each read class has one cost shape; the expected answers come from the
    model after the write."""
    writes = ["insert", "update", "delete", "merge"]
    rng.shuffle(writes)
    writes.append("update_range" if i % 2 else "optimize")
    out = []
    for j, w in enumerate(writes):
        if w == "optimize":
            out.append(stmt("optimize", "OPTIMIZE orders_w", None))
        else:
            out.append(_dml_write(rng, model, w))
        look = "lookup_owned" if j % 2 == 0 else "lookup_base"
        out += [_dml_read(rng, model, base_keys, look),
                _dml_read(rng, model, base_keys, "query")]
    return out


def _dml_write(rng, model, kind):
    if kind == "insert":
        rows = [(k, model.new_row()) for k in model.fresh_keys(200)]
        view = "ins_batch"
        for k, r in rows:
            model.rows[k] = r
        return stmt("insert", f"INSERT INTO orders_w SELECT * FROM {view}",
                    "rows", pre=[OwnedModel.values_sql(view, rows)],
                    expect=[[len(rows)]])
    if kind == "update":
        (k,) = model.live(1)
        p = rng.randrange(100, 10**7)
        model.rows[k][2] = p
        return stmt("update", f"UPDATE orders_w SET o_totalprice = {p / 100!r} "
                    f"WHERE o_orderkey = {k}", "rows", expect=[[1]])
    if kind == "update_range":
        lo = rng.choice(sorted(model.rows))
        hi = lo + 300
        hit = [k for k in model.rows if lo <= k <= hi]
        for k in hit:
            model.rows[k][1] = "P"
        return stmt("update", "UPDATE orders_w SET o_orderstatus = 'P' "
                    f"WHERE o_orderkey BETWEEN {lo} AND {hi}", "rows",
                    expect=[[len(hit)]])
    if kind == "delete":
        ks = model.live(5)
        for k in ks:
            del model.rows[k]
        return stmt("delete", "DELETE FROM orders_w WHERE o_orderkey IN "
                    f"({', '.join(map(str, ks))})", "rows", expect=[[len(ks)]])
    assert kind == "merge"
    matched = model.live(20)
    rows = [(k, model.new_row()) for k in matched + model.fresh_keys(20)]
    for k, r in rows:
        model.rows[k] = r
    view = "merge_src"
    return stmt("merge", f"MERGE INTO orders_w t USING {view} s "
                "ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *", "rows",
                pre=[OwnedModel.values_sql(view, rows)],
                expect=[[len(rows)]])


def _dml_read(rng, model, base_keys, kind):
    if kind == "lookup_base":
        return stmt("lookup", _lookup_sql(rng.randrange(base_keys)),
                    "duckdb", explain=True)
    if kind == "lookup_owned":
        (k,) = model.live(1)
        c, s, p, _, pr = model.rows[k]
        return stmt("lookup", _lookup_sql(k), "rows", explain=True,
                    expect=[[k, c, s, p / 100, pr]])
    assert kind == "query"
    return stmt("query", "SELECT count(*) AS n, "
                f"{cents('o_totalprice')} AS total_cents FROM orders_w",
                "base_plus", expect=[len(model.rows),
                                     sum(r[2] for r in model.rows.values())])


def dml_mixed(seed, seconds, scale):
    n = datagen.sizes(scale)
    setup = [stmt("ddl", create_table("orders_w", "orders", "o_orderkey", 32),
                  None),
             stmt("load", "INSERT INTO orders_w SELECT * FROM orders", None)]
    # Warm-up writes and reads a key range of its own, so every statement
    # shape is compiled before the measured phase, and deletes what it
    # wrote, so the measured phase starts from the loaded rows.
    warm = OwnedModel(random.Random(0), WARM)
    warmup = [_dml_write(warm.rng, warm, k)
              for k in ["insert", "merge", "update", "delete"]]
    warmup += [_dml_read(warm.rng, warm, n["orders"], r)
               for r in ["lookup_owned", "lookup_base", "query"]]
    warmup.append(stmt("warm", f"DELETE FROM orders_w WHERE o_orderkey >= "
                       f"{WARM} AND o_orderkey < {OWNED}", None))
    for w in warmup:
        w["check"] = None
    rng = random.Random(seed)
    model = OwnedModel(rng, OWNED)
    # Seed the owned range so the first update/delete has live keys.
    body = [_dml_write(rng, model, "insert")]
    for i in range(n_blocks("dml_mixed", seconds)):
        body += _dml_block(rng, model, n["orders"], i)
    return dict(sources=["orders"], setup=setup, warmup=warmup,
                statements=body, duckdb_views={"orders_w": "orders"},
                final_rows=len(model.rows))


WORKLOADS = {"olap_read": olap_read, "dml_mixed": dml_mixed}


def make_plan(workload, seed, seconds, scale):
    plan = WORKLOADS[workload](seed, seconds, scale)
    for i, s in enumerate(plan["statements"]):
        s["id"] = i
    plan["setup_reps"] = SETUP_REPS
    return plan
