"""Seeded inputs of the two workloads.

The seed draws the `wire_short` literals and template order, and the item
order of `pipeline` and the literals of its DML scripts. The data never depends on the seed (see gen_data.py). Every
statement carries what its answer is checked against: DuckDB SQL
(`duck`), or nothing, in which case the answer stored with the benchmark
is used (`answers.json`).
"""
import math
import random

# Wire statements: (name, dialect SQL, DuckDB SQL or None for "same",
# literal drawer). Shaped like the fq_ short queries; three return ~10^3
# rows. Sums go through DECIMAL so both engines add exactly.
WIRE_TEMPLATES = [
    ("group_ordinal",
     "select l_returnflag, l_linestatus, count(1) as n, "
     "cast(sum(cast(l_quantity as decimal(18,2))) as double) as qty "
     "from lineitem where l_shipdate < cast('{d}' as timestamp) "
     "group by 1, 2 order by 1, 2", None,
     lambda r: {"d": f"{r.randint(1996, 2000)}-{r.randint(1, 12):02d}-01"}),
    ("dim_join",
     "select n_name, count(1) as n_cust, "
     "cast(sum(cast(c_acctbal as decimal(18,2))) as double) as bal "
     "from customer join nation on c_nationkey = n_nationkey "
     "where c_acctbal > {x} group by n_name order by n_name", None,
     lambda r: {"x": r.randint(-500, 9000)}),
    ("in_list",
     "select o_orderpriority, count(1) as n from orders "
     "where o_custkey in ({a}, {b}, {c}, {d}, {e}) group by 1 order by 1", None,
     lambda r: dict(zip("abcde", r.sample(range(1500), 5)))),
    ("like",
     "select count(1) as n from part where p_name like '%{w}%'", None,
     lambda r: {"w": r.choice(["ring", "widget", "plate", "rod", "bolt",
                               "gear", "red", "blue", "hot", "old"])}),
    ("window_topk",
     "select o_custkey, o_orderkey, rn from (select o_custkey, o_orderkey, "
     "row_number() over (partition by o_custkey "
     "order by o_totalprice desc, o_orderkey) as rn from orders "
     "where o_custkey between {a} and {b}) t where rn <= {k} "
     "order by o_custkey, rn", None,
     lambda r: (lambda a: {"a": a, "b": a + 60, "k": r.randint(1, 4)})(r.randint(0, 1400))),
    ("cte",
     "with big as (select o_custkey, o_totalprice from orders "
     "where o_totalprice > {x}) select o_custkey, count(1) as n from big "
     "group by o_custkey having count(1) > {m} order by o_custkey", None,
     lambda r: {"x": r.randint(100000, 400000), "m": r.randint(2, 6)}),
    ("limit_offset",
     "select o_orderkey, o_custkey, o_orderstatus from orders "
     "order by o_orderkey limit {l} offset {o}", None,
     lambda r: {"l": r.randint(10, 200), "o": r.randint(0, 14000)}),
    ("scalar_subquery",
     "select count(1) as n from orders where o_totalprice > "
     "(select avg(o_totalprice) from orders where o_orderpriority = '{p}') "
     "and o_custkey < {c}", None,
     lambda r: {"p": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                               "4-NOT SPECIFIED", "5-LOW"]),
                "c": r.randint(100, 1500)}),
    ("json_lateral",
     "select j.key, count(1) as n, sum(cast(j.value as bigint)) as total "
     "from events, lateral json_each(props) as j where user_id < {u} "
     "group by j.key order by j.key",
     "select key, count(1) as n, "
     "sum(cast(json_extract_string(props, '$.' || key) as bigint)) as total "
     "from (select props, unnest(json_keys(props)) as key from events "
     "where user_id < {u}) group by key order by key",
     lambda r: {"u": r.randint(5, 150)}),
    ("generate_series",
     "select generate_series % {m} as b, count(1) as n "
     "from generate_series(1, {n}) group by 1 order by 1", None,
     lambda r: {"m": r.randint(2, 40), "n": r.randint(100, 5000)}),
    ("events_between",
     "select event_type, count(1) as n, "
     "cast(sum(cast(value as decimal(18,2))) as double) as total "
     "from events where user_id between {a} and {b} group by 1 order by 1", None,
     lambda r: (lambda a: {"a": a, "b": a + r.randint(5, 40)})(r.randint(0, 140))),
    ("lineitem_slice",
     "select l_orderkey, l_linenumber, l_quantity from lineitem "
     "where l_orderkey between {a} and {b} order by 1, 2", None,
     lambda r: (lambda a: {"a": a, "b": a + 250})(r.randint(0, 14700))),
    ("distinct",
     "select distinct c_mktsegment, c_nationkey from customer "
     "where c_acctbal > {x}", None,
     lambda r: {"x": r.randint(0, 9000)}),
    ("count_distinct",
     "select o_orderstatus, count(distinct o_custkey) as n from orders "
     "where o_orderdate >= cast('{d}' as timestamp) group by 1 order by 1", None,
     lambda r: {"d": f"{r.randint(1995, 2001)}-{r.randint(1, 12):02d}-01"}),
    ("exists",
     "select count(1) as n from customer c where exists "
     "(select 1 from orders o where o.o_custkey = c.c_custkey "
     "and o.o_totalprice > {x})", None,
     lambda r: {"x": r.randint(300000, 499000)}),
    ("case",
     "select case when c_acctbal > {x} then 'high' else 'low' end as band, "
     "count(1) as n from customer group by 1 order by 1", None,
     lambda r: {"x": r.randint(0, 9000)}),
    ("string_funcs",
     "select upper(substr(p_name, 1, {k})) as pfx, count(1) as n from part "
     "where p_size < {s} group by 1 order by 1", None,
     lambda r: {"k": r.randint(1, 6), "s": r.randint(5, 50)}),
    ("union_all",
     "select 'o' as src, count(1) as n from orders where o_custkey < {a} "
     "union all select 'c' as src, count(1) as n from customer "
     "where c_custkey < {a}", None,
     lambda r: {"a": r.randint(10, 1500)}),
    ("events_slice",
     "select event_id, user_id, event_type from events "
     "where event_id between {a} and {b}", None,
     lambda r: (lambda a: {"a": a, "b": a + 999})(r.randint(0, 9000))),
    ("fact_dim_join",
     "select s_name, count(1) as n from lineitem "
     "join supplier on l_suppkey = s_suppkey where l_partkey < {p} "
     "group by s_name order by s_name", None,
     lambda r: {"p": r.randint(50, 2000)}),
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Catalog introspection the way psql and SQLAlchemy send it. The answers
# are the engine's own catalog, so they are stored with the benchmark.
CATALOG_TEMPLATES = [
    ("pg_namespace", "select nspname from pg_namespace order by nspname",
     lambda r: {}),
    ("has_table",
     "select table_name from information_schema.tables "
     "where table_schema = 'public' and table_name = '{t}'",
     lambda r: {"t": r.choice(TABLES + ["missing_table"])}),
    ("columns",
     "select column_name, data_type from information_schema.columns "
     "where table_name = '{t}' order by ordinal_position",
     lambda r: {"t": r.choice(TABLES)}),
]

PIPELINE_ITEMS = [
    "ix_bloom_skip", "ix_topk_oversized", "fq_recursive_series", "st_dedup",
]

# Wire warm-up, part of the set-up: the slowest templates, whose first run in a
# JVM is otherwise several times slower than the rest and lands in the
# timed tail.
WIRE_WARMUP = ["json_lateral", "window_topk", "generate_series",
               "count_distinct", "group_ordinal", "scalar_subquery"]

# name: (scale factor, connections, nominal seconds of one round). A run
# is a fixed amount of work: ceil(seconds / nominal) whole rounds, where a
# wire round is every template once and an in-process round is one pass
# over the items. Fixed work keeps the statement mix, and the JIT's
# warm-up within it, the same on both sides of an A/B.
WORKLOADS = {
    "wire_short": ("0.01", 2, 3.2),
    "pipeline": ("0.01", 1, 8.0),
}


def _wire_stmt(r, sid, tpl, catalog):
    if catalog:
        name, sql, draw = tpl
        text = sql.format(**draw(r))
        return {"id": sid, "kind": "wire", "template": name, "sql": text}
    name, sql, duck, draw = tpl
    lits = draw(r)
    return {"id": sid, "kind": "wire", "template": name,
            "sql": sql.format(**lits), "duck": (duck or sql).format(**lits)}


def _wire_round(r):
    """Every SQL template once plus two catalog statements (~10%), in a
    seeded order."""
    tpls = [(t, False) for t in WIRE_TEMPLATES]
    tpls += [(t, True) for t in r.sample(CATALOG_TEMPLATES, 2)]
    r.shuffle(tpls)
    return tpls


def dml_script(r, k):
    """CTAS, INSERT…SELECT, UPDATE, DELETE, COPY TO, COPY FROM, ANALYZE,
    then a read-back aggregate, on a table private to one session."""
    c1 = r.randint(200, 600)
    c2 = c1 + r.randint(100, 400)
    x = r.randint(50000, 200000)
    script = [
        "CREATE TABLE t_ord AS select o_orderkey, o_custkey, o_orderstatus, "
        f"o_totalprice from orders where o_custkey < {c1}",
        "INSERT INTO t_ord select o_orderkey + 10000000, o_custkey, 'N', "
        f"o_totalprice from orders where o_custkey between {c1} and {c2}",
        "UPDATE t_ord SET o_totalprice = o_totalprice * 2 "
        "WHERE o_orderstatus = 'F'",
        f"DELETE FROM t_ord WHERE o_totalprice < {x}",
        "COPY t_ord TO 't_ord.parquet' WITH (format 'parquet')",
        "COPY t_back FROM 't_ord.parquet' WITH (format 'parquet')",
        "ANALYZE t_back",
        "select o_orderstatus, count(1) as n, "
        "cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total "
        "from t_back group by o_orderstatus",
    ]
    duck = (
        "with t0 as (select o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        f"from orders where o_custkey < {c1} union all "
        "select o_orderkey + 10000000, o_custkey, 'N', o_totalprice "
        f"from orders where o_custkey between {c1} and {c2}), "
        "t1 as (select o_orderstatus, case when o_orderstatus = 'F' "
        "then o_totalprice * 2 else o_totalprice end as o_totalprice from t0) "
        "select o_orderstatus, count(1) as n, "
        "cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total "
        f"from t1 where not (o_totalprice < {x}) group by o_orderstatus")
    return {"id": f"d{k}", "kind": "script", "script": script,
            "target": "t_ord", "duck": duck}


def generate(workload, seed, seconds):
    """Inputs of one run: warm-up statements and the timed rounds."""
    sf, conns, nominal = WORKLOADS[workload]
    rounds = max(1, math.ceil(seconds / nominal))
    r = random.Random(f"{workload}:{seed}")
    if workload == "wire_short":
        stmts = []
        for _ in range(rounds):
            for tpl, cat in _wire_round(r):
                stmts.append(_wire_stmt(r, f"w{len(stmts)}", tpl, cat))
        w = random.Random(f"{workload}:warmup")
        by_name = {t[0]: t for t in WIRE_TEMPLATES}
        warm = [_wire_stmt(w, f"warm-{n}", by_name[n], False) for n in WIRE_WARMUP]
        passes = [stmts]
    else:
        passes = []
        for p in range(rounds):
            order = [{"id": f"p{p}-{name}", "kind": "query", "name": name}
                     for name in PIPELINE_ITEMS]
            r.shuffle(order)
            # a script after each item but the last, so every script
            # follows the same kind of work whatever the item order
            scripts = [dml_script(r, f"{p}-{k}") for k in range(len(PIPELINE_ITEMS) - 1)]
            passes.append([s for pair in zip(order, scripts + [None]) for s in pair if s])
        warm = [dict(dml_script(random.Random("warmup"), 0), id="warm-dml")]
    return {"workload": workload, "seed": seed, "scale_factor": sf,
            "connections": conns, "warmup": warm, "passes": passes}
