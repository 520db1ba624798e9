"""Seeded operation generators for the four benchmark workloads.

Every operation is a plain dict the JVM harness executes. KQL operations
carry the query text, the tables it reads (so a traced run can time
catalog resolution separately) and the DuckDB SQL that answers the same
question. Constants are drawn per operation from the seed, so no result
cache can answer a repeat, while each template keeps its work within a
narrow band so that runs with different seeds stay comparable.

`generate` and `warmup_ops` are pure functions of their arguments.
"""
import datetime as dt
import random

from datagen import (EVENT_TYPES, ORDER_START, PART_TYPES, PRIORITIES,
                     REGIONS, SEGMENTS)

# ---------------------------------------------------------------- helpers


def _day(d):
    return (ORDER_START + dt.timedelta(days=d)).strftime("%Y-%m-%d")


def _eday(d):
    return (dt.datetime(2024, 1, 1) + dt.timedelta(days=d)).strftime("%Y-%m-%d")


def _cents(expr_kql):
    return f"tolong(round({expr_kql} * 100))"


def _in(vals):
    return ", ".join(f"'{v}'" for v in vals)

# ---------------------------------------------------- interactive templates
# Short analyst queries. Each returns (kql, sql, tables).


def i_filter_summarize(r):
    d = r.randrange(0, 2200)
    span = 120
    q = r.randrange(8, 13)
    kql = f"""lineitem
| where l_shipdate >= datetime({_day(d)}) and l_shipdate < datetime({_day(d + span)}) and l_quantity >= {q}
| summarize n = count(), qty = sum(tolong(l_quantity)), rev_c = sum({_cents('l_extendedprice')}) by l_returnflag, l_linestatus
| sort by l_returnflag asc, l_linestatus asc"""
    sql = f"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(CAST(l_quantity AS BIGINT)) AS qty,
SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rev_c FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_day(d)}' AND l_shipdate < TIMESTAMP '{_day(d + span)}' AND l_quantity >= {q}
GROUP BY 1, 2 ORDER BY 1, 2"""
    return kql, sql, ["lineitem"]


def i_bin_series(r):
    d = r.randrange(0, 2100)
    span = 240
    p = r.choice(PRIORITIES)
    kql = f"""orders
| where o_orderdate >= datetime({_day(d)}) and o_orderdate < datetime({_day(d + span)}) and o_orderpriority == '{p}'
| summarize n = count(), tp = sum({_cents('o_totalprice')}) by wk = bin(o_orderdate, 7d)
| sort by wk asc"""
    sql = f"""SELECT CAST(floor(epoch(o_orderdate) / 604800) AS BIGINT) * 604800000000 AS wk, COUNT(*) AS n,
SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS tp FROM orders
WHERE o_orderdate >= TIMESTAMP '{_day(d)}' AND o_orderdate < TIMESTAMP '{_day(d + span)}' AND o_orderpriority = '{p}'
GROUP BY 1 ORDER BY 1"""
    return kql, sql, ["orders"]


def i_top(r):
    seg = r.choice(SEGMENTS)
    nats = sorted(r.sample(range(25), 3))
    k = r.randrange(20, 30)
    kql = f"""customer
| where c_mktsegment == '{seg}' and c_nationkey in ({', '.join(map(str, nats))})
| top {k} by c_acctbal desc, c_custkey asc
| project c_custkey, c_name, c_acctbal"""
    sql = f"""SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE c_mktsegment = '{seg}' AND c_nationkey IN ({', '.join(map(str, nats))})
ORDER BY c_acctbal DESC, c_custkey ASC LIMIT {k}"""
    return kql, sql, ["customer"]


def i_join2(r):
    y = r.randrange(1995, 2001)
    st = r.choice(["F", "O"])
    seg = r.choice(SEGMENTS)
    kql = f"""orders
| where o_orderdate >= datetime({y}-01-01) and o_orderdate < datetime({y + 1}-01-01) and o_orderstatus == '{st}'
| join kind=inner (customer | where c_mktsegment == '{seg}') on $left.o_custkey == $right.c_custkey
| summarize n = count(), tp = sum({_cents('o_totalprice')}) by c_nationkey
| sort by c_nationkey asc"""
    sql = f"""SELECT c_nationkey, COUNT(*) AS n, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS tp
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '{y}-01-01' AND o_orderdate < TIMESTAMP '{y + 1}-01-01'
AND o_orderstatus = '{st}' AND c_mktsegment = '{seg}' GROUP BY 1 ORDER BY 1"""
    return kql, sql, ["orders", "customer"]


def i_join4(r):
    d = r.randrange(0, 2300)
    span = 30
    kql = f"""lineitem
| where l_shipdate >= datetime({_day(d)}) and l_shipdate < datetime({_day(d + span)})
| join kind=inner (orders) on $left.l_orderkey == $right.o_orderkey
| join kind=inner (customer) on $left.o_custkey == $right.c_custkey
| join kind=inner (nation) on $left.c_nationkey == $right.n_nationkey
| summarize n = count(), rev_c = sum({_cents('l_extendedprice')}) by n_name
| sort by n_name asc"""
    sql = f"""SELECT n_name, COUNT(*) AS n, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rev_c
FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_shipdate >= TIMESTAMP '{_day(d)}' AND l_shipdate < TIMESTAMP '{_day(d + span)}'
GROUP BY 1 ORDER BY 1"""
    return kql, sql, ["lineitem", "orders", "customer", "nation"]


def _q5(region, d, span):
    kql = f"""region
| where r_name == '{region}'
| join kind=inner (nation) on $left.r_regionkey == $right.n_regionkey
| join kind=inner (customer) on $left.n_nationkey == $right.c_nationkey
| join kind=inner (orders) on $left.c_custkey == $right.o_custkey
| where o_orderdate >= datetime({_day(d)}) and o_orderdate < datetime({_day(d + span)})
| join kind=inner (lineitem) on $left.o_orderkey == $right.l_orderkey
| join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
| where s_nationkey == n_nationkey
| summarize rc = sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000))) by n_name
| extend revenue = todouble(rc) / 10000.0
| project-away rc
| sort by revenue desc, n_name asc"""
    sql = f"""SELECT n_name, CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM region JOIN nation ON r_regionkey = n_regionkey JOIN customer ON n_nationkey = c_nationkey
JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE r_name = '{region}' AND s_nationkey = n_nationkey
AND o_orderdate >= TIMESTAMP '{_day(d)}' AND o_orderdate < TIMESTAMP '{_day(d + span)}'
GROUP BY n_name ORDER BY revenue DESC, n_name"""
    return kql, sql, ["region", "nation", "customer", "orders", "lineitem", "supplier"]


def i_join6(r):
    return _q5(r.choice(REGIONS), r.randrange(0, 2300), 60)


def i_json(r):
    t = r.choice(["click", "view", "purchase"])
    d = r.randrange(0, 26)
    span = 4
    lo = r.randrange(0, 60)
    kql = f"""events
| where event_type == '{t}' and ts >= datetime({_eday(d)}) and ts < datetime({_eday(d + span)})
| extend k = tolong(props.k)
| where k >= {lo}
| summarize n = count(), sk = sum(k), mx = max(k) by ub = user_id % 10
| sort by ub asc"""
    sql = f"""SELECT user_id % 10 AS ub, COUNT(*) AS n, SUM(k) AS sk, MAX(k) AS mx FROM (
SELECT user_id, CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT) AS k FROM events
WHERE event_type = '{t}' AND ts >= TIMESTAMP '{_eday(d)}' AND ts < TIMESTAMP '{_eday(d + span)}')
WHERE k >= {lo} GROUP BY 1 ORDER BY 1"""
    return kql, sql, ["events"]


def i_make_series(r):
    types = sorted(r.sample(EVENT_TYPES, 2))
    d = r.randrange(0, 23)
    span = 7
    kql = f"""events
| where event_type in ({_in(types)})
| make-series n = count() default = 0 on ts from datetime({_eday(d)}) to datetime({_eday(d + span)}) step 1d by event_type
| project event_type, n = dynamic_to_json(n)
| sort by event_type asc"""
    sql = f"""WITH grid AS (SELECT unnest(generate_series(TIMESTAMP '{_eday(d)}', TIMESTAMP '{_eday(d + span)}' - INTERVAL 1 HOUR, INTERVAL 1 DAY)) AS t),
types AS (SELECT DISTINCT event_type FROM events WHERE event_type IN ({_in(types)})),
binned AS (SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS cnt FROM events
  WHERE event_type IN ({_in(types)}) AND ts >= TIMESTAMP '{_eday(d)}' AND ts < TIMESTAMP '{_eday(d + span)}' GROUP BY 1, 2),
filled AS (SELECT ty.event_type, g.t, COALESCE(b.cnt, 0) AS cnt FROM types ty CROSS JOIN grid g
  LEFT JOIN binned b ON b.event_type = ty.event_type AND b.d = g.t)
SELECT event_type, CAST(to_json(list(cnt ORDER BY t)) AS VARCHAR) AS n FROM filled GROUP BY 1 ORDER BY 1"""
    return kql, sql, ["events"]


def i_lookup(r):
    d = r.randrange(0, 2300)
    span = 30
    bal = r.randrange(0, 8000)
    kql = f"""lineitem
| where l_shipdate >= datetime({_day(d)}) and l_shipdate < datetime({_day(d + span)})
| lookup (supplier | where s_acctbal > {bal}) on $left.l_suppkey == $right.s_suppkey
| summarize n = count(), q = sum(tolong(l_quantity)) by s_nationkey
| sort by s_nationkey asc"""
    sql = f"""SELECT s_nationkey, COUNT(*) AS n, SUM(CAST(l_quantity AS BIGINT)) AS q
FROM lineitem LEFT JOIN (SELECT * FROM supplier WHERE s_acctbal > {bal}) s ON l_suppkey = s_suppkey
WHERE l_shipdate >= TIMESTAMP '{_day(d)}' AND l_shipdate < TIMESTAMP '{_day(d + span)}'
GROUP BY 1 ORDER BY 1 NULLS FIRST"""
    return kql, sql, ["lineitem", "supplier"]


def i_let(r):
    lo = r.randrange(1000, 400_000)
    hi = lo + 50_000
    kql = f"""let lo = {lo};
let hi = {hi};
let big = orders | where o_totalprice >= lo and o_totalprice < hi;
big
| summarize n = count(), nc = count_distinct(o_custkey) by o_orderstatus
| sort by o_orderstatus asc"""
    sql = f"""SELECT o_orderstatus, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS nc FROM orders
WHERE o_totalprice >= {lo} AND o_totalprice < {hi} GROUP BY 1 ORDER BY 1"""
    return kql, sql, ["orders"]


# name -> (generator, slots per deck): a skewed mix where cheap
# single-table questions dominate and multi-table joins are the tail
INTERACTIVE = {
    "filter_summarize": (i_filter_summarize, 5),
    "bin_series": (i_bin_series, 4),
    "json_props": (i_json, 4),
    "top": (i_top, 3),
    "join2": (i_join2, 2),
    "lookup": (i_lookup, 2),
    "let": (i_let, 1),
    "make_series": (i_make_series, 1),
    "join4": (i_join4, 1),
    "join6_q5": (i_join6, 1),
}

# ------------------------------------------------------ analytic templates


def a_percentile(r):
    d = r.randrange(0, 2000)
    span = 300
    p1, p2 = r.randrange(40, 60), r.randrange(90, 99)
    kql = f"""lineitem
| where l_shipdate >= datetime({_day(d)}) and l_shipdate < datetime({_day(d + span)})
| summarize p_lo = round(percentile(l_extendedprice, {p1}), 4), p_hi = round(percentile(l_extendedprice, {p2}), 4) by l_returnflag
| sort by l_returnflag asc"""
    sql = f"""SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, {p1 / 100}), 4) AS p_lo,
ROUND(quantile_cont(l_extendedprice, {p2 / 100}), 4) AS p_hi FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_day(d)}' AND l_shipdate < TIMESTAMP '{_day(d + span)}' GROUP BY 1 ORDER BY 1"""
    return kql, sql, ["lineitem"]


def a_tdigest(r):
    q = r.randrange(1, 10)
    d = r.randrange(0, 2000)
    w = f"l_shipdate >= datetime({_day(d)}) and l_shipdate < datetime({_day(d + 300)}) and l_quantity >= {q}"
    ws = f"l_shipdate >= TIMESTAMP '{_day(d)}' AND l_shipdate < TIMESTAMP '{_day(d + 300)}' AND l_quantity >= {q}"
    kql = f"""lineitem
| where {w}
| summarize td = tdigest(l_extendedprice) by l_returnflag
| extend p50 = percentile_tdigest(td, 50), p95 = percentile_tdigest(td, 95)
| join kind=inner (lineitem
    | where {w}
    | summarize lo50 = percentile(l_extendedprice, 48), hi50 = percentile(l_extendedprice, 52),
                lo95 = percentile(l_extendedprice, 93), hi95 = percentile(l_extendedprice, 97),
                ex50 = round(percentile(l_extendedprice, 50), 4) by l_returnflag) on l_returnflag
| project l_returnflag, ex50, p50_ok = p50 >= lo50 and p50 <= hi50, p95_ok = p95 >= lo95 and p95 <= hi95
| sort by l_returnflag asc"""
    sql = f"""SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS ex50, true AS p50_ok, true AS p95_ok
FROM lineitem WHERE {ws} GROUP BY 1 ORDER BY 1"""
    return kql, sql, ["lineitem"]


def a_profile(r):
    q = r.randrange(1, 25)
    d = r.randrange(0, 2000)
    kql = f"""lineitem
| where l_shipdate >= datetime({_day(d)}) and l_shipdate < datetime({_day(d + 300)}) and l_quantity >= {q}
| evaluate profile(l_linenumber, l_returnflag, l_shipdate, l_orderkey)
| sort by column asc"""
    parts = []
    for c in ["l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"]:
        parts.append(f"""SELECT '{c}' AS "column", COUNT(*) AS n, COUNT(*) - COUNT({c}) AS n_null,
COUNT(DISTINCT {c}) AS n_distinct, CAST(MIN({c}) AS VARCHAR) AS min_s, CAST(MAX({c}) AS VARCHAR) AS max_s
FROM lineitem WHERE l_shipdate >= TIMESTAMP '{_day(d)}' AND l_shipdate < TIMESTAMP '{_day(d + 300)}' AND l_quantity >= {q}""")
    sql = " UNION ALL ".join(parts) + ' ORDER BY "column"'
    return kql, sql, ["lineitem"]


def a_dcount(r):
    d = r.randrange(0, 2000)
    span = 300
    kql = f"""lineitem
| where l_shipdate >= datetime({_day(d)}) and l_shipdate < datetime({_day(d + span)})
| summarize d = dcount(l_partkey), x = count_distinct(l_partkey), o = count_distinct(l_orderkey) by l_returnflag
| project l_returnflag, x, o, ok = todouble(abs(d - x)) / x <= 0.1
| sort by l_returnflag asc"""
    sql = f"""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS x, COUNT(DISTINCT l_orderkey) AS o, true AS ok FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_day(d)}' AND l_shipdate < TIMESTAMP '{_day(d + span)}' GROUP BY 1 ORDER BY 1"""
    return kql, sql, ["lineitem"]


def a_rank(r):
    q = r.randrange(1, 20)
    k = r.randrange(50, 150)
    d = r.randrange(0, 2000)
    w = f"l_shipdate >= TIMESTAMP '{_day(d)}' AND l_shipdate < TIMESTAMP '{_day(d + 300)}' AND l_quantity >= {q}"
    kql = f"""lineitem
| where l_shipdate >= datetime({_day(d)}) and l_shipdate < datetime({_day(d + 300)}) and l_quantity >= {q}
| sort by l_extendedprice desc
| extend rk = row_rank_min(l_extendedprice), drk = row_rank_dense(l_extendedprice), pr = round(percent_rank(), 8)
| where rk <= {k}
| project l_orderkey, l_linenumber, l_extendedprice, rk, drk, pr
| sort by rk asc, l_orderkey asc, l_linenumber asc"""
    sql = f"""SELECT l_orderkey, l_linenumber, l_extendedprice, rk, drk, pr FROM (
SELECT l_orderkey, l_linenumber, l_extendedprice,
RANK() OVER (ORDER BY l_extendedprice DESC) AS rk, DENSE_RANK() OVER (ORDER BY l_extendedprice DESC) AS drk,
ROUND(PERCENT_RANK() OVER (ORDER BY l_extendedprice DESC), 8) AS pr FROM lineitem WHERE {w})
WHERE rk <= {k} ORDER BY rk, l_orderkey, l_linenumber"""
    return kql, sql, ["lineitem"]


def _li(r):
    """A one-year ship-date slice of lineitem: (kql let, sql cte)."""
    d = r.randrange(0, 2000)
    return (f"let li = lineitem | where l_shipdate >= datetime({_day(d)}) and l_shipdate < datetime({_day(d + 365)});\n",
            f"li AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '{_day(d)}' AND l_shipdate < TIMESTAMP '{_day(d + 365)}')")


def a_tpch_q2(r):
    size = r.randrange(1, 51)
    ptype = r.choice(PART_TYPES)
    let, cte = _li(r)
    kql = let + f"""let ps = li
  | summarize cost_c = min(tolong(round(l_extendedprice * 100))) by l_partkey, l_suppkey;
ps
| join kind=inner (ps | summarize min_c = min(cost_c) by l_partkey) on l_partkey
| where cost_c == min_c
| join kind=inner (part | where p_size == {size} and p_type == '{ptype}') on $left.l_partkey == $right.p_partkey
| join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
| join kind=inner (nation) on $left.s_nationkey == $right.n_nationkey
| project s_acctbal, s_name, n_name, p_partkey, cost = todouble(min_c) / 100.0
| sort by s_acctbal desc, n_name asc, s_name asc, p_partkey asc
| take 100"""
    sql = f"""WITH {cte}, ps AS (SELECT l_partkey, l_suppkey, MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cost_c FROM li GROUP BY 1, 2),
mc AS (SELECT l_partkey, MIN(cost_c) AS min_c FROM ps GROUP BY 1)
SELECT s_acctbal, s_name, n_name, p_partkey, CAST(min_c AS DOUBLE) / 100.0 AS cost
FROM ps JOIN mc ON ps.l_partkey = mc.l_partkey AND ps.cost_c = mc.min_c
JOIN part ON ps.l_partkey = p_partkey JOIN supplier ON ps.l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
WHERE p_size = {size} AND p_type = '{ptype}' ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""
    return kql, sql, ["lineitem", "part", "supplier", "nation"]


def a_tpch_q9(r):
    ptype = r.choice(PART_TYPES)
    color = r.choice(["red", "blue", "hot", "green", "dark", "pale"])
    let, cte = _li(r)
    kql = let + f"""let ps = li
  | summarize ps_supplycost_c = min(tolong(round(l_extendedprice * 100))) by ps_partkey = l_partkey, ps_suppkey = l_suppkey;
li
| join kind=inner (part | where p_type == '{ptype}' and p_name startswith '{color}') on $left.l_partkey == $right.p_partkey
| join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
| join kind=inner (ps) on $left.l_partkey == $right.ps_partkey, $left.l_suppkey == $right.ps_suppkey
| join kind=inner (orders) on $left.l_orderkey == $right.o_orderkey
| join kind=inner (nation) on $left.s_nationkey == $right.n_nationkey
| extend profit_tt = tolong(round(l_extendedprice * (1 - l_discount) * 10000)) - ps_supplycost_c * 100 * tolong(round(l_quantity))
| summarize pt = sum(profit_tt) by nation = n_name, o_year = tolong(getyear(o_orderdate))
| project nation, o_year, sum_profit = todouble(pt) / 10000.0
| sort by nation asc, o_year desc"""
    sql = f"""WITH {cte}, ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS ps_supplycost_c FROM li GROUP BY 1, 2)
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) - ps_supplycost_c * 100 * CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_profit
FROM part JOIN li ON p_partkey = l_partkey JOIN supplier ON s_suppkey = l_suppkey
JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = '{ptype}' AND p_name LIKE '{color}%' GROUP BY 1, 2 ORDER BY 1, 2 DESC"""
    return kql, sql, ["lineitem", "part", "supplier", "orders", "nation"]


def _graph_edges_sql(seg, bal):
    return (f"SELECT 'c' || c_custkey AS src, 'n' || c_nationkey AS dst FROM customer "
            f"WHERE c_mktsegment = '{seg}' AND c_acctbal > {bal} "
            f"UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation")


def a_pagerank(r):
    seg = r.choice(SEGMENTS)
    bal = r.randrange(0, 3000)
    kql = f"""let E = union
  (customer | where c_mktsegment == '{seg}' and c_acctbal > {bal} | project src = strcat('c', c_custkey), dst = strcat('n', c_nationkey)),
  (nation | project src = strcat('n', n_nationkey), dst = strcat('r', n_regionkey));
E
| evaluate pagerank(5, src, dst)
| sort by id asc"""
    rounds = []
    for i in range(1, 6):
        rounds.append(f"""r{i} AS (SELECT n.id, CAST(150000 + (85 * COALESCE(x.s, 0)) // 100 AS BIGINT) AS r FROM nodes n LEFT JOIN
(SELECT e.dst AS id, SUM(p.r // od.d) AS s FROM e JOIN r{i - 1} p ON e.src = p.id JOIN od ON od.src = e.src GROUP BY 1) x ON n.id = x.id)""")
    sql = f"""WITH e AS (SELECT DISTINCT src, dst FROM ({_graph_edges_sql(seg, bal)})),
nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
{', '.join(rounds)}
SELECT id, r AS rank_micros, CAST(r AS DOUBLE) / 1000000.0 AS rank FROM r5 ORDER BY id"""
    return kql, sql, ["customer", "nation"]


# the heavy analytic shapes, in the order the query deck interleaves them
ANALYTIC = [
    ("percentile", a_percentile), ("tpch_q2", a_tpch_q2), ("rank", a_rank),
    ("pagerank", a_pagerank), ("tdigest", a_tdigest), ("tpch_q9", a_tpch_q9),
    ("profile", a_profile), ("dcount", a_dcount),
]

# ------------------------------------------------------- pipeline ops

STREAMS = ["kql_bin", "tumbling_matview", "session", "dedup", "join"]

# one cycle: every LlmOps stage and every stream once, interleaved so that
# writes (index build/append, stream commits) sit beside reads (probes,
# incremental dedup, view reads). The minhash index is built first, from
# the cycle's base half, so the incremental probe and append have it.
PIPELINE = ["minhash_index_build", "dedup_exact", "feed:kql_bin", "ivf_build",
            "knn_cosine", "feed:tumbling_matview", "dedup_incremental",
            "quality_score", "feed:session", "ivf_probe", "tf_idf", "feed:dedup",
            "minhash_index_append", "near_dup_minhash", "ivf_probe", "feed:join",
            "matview_read"]
LLM_STAGES = list(dict.fromkeys(s for s in PIPELINE if ":" not in s and s != "matview_read"))


def pipeline_ops(r, n_docs, n_embs, cycles):
    """Seeded slices per cycle: documents [lo, hi) of a fifth of the
    corpus, split into an indexed base half and an incoming batch;
    embeddings [e_lo, e_hi) of half the vectors."""
    ops = []
    for c in range(cycles):
        lo = r.randrange(0, n_docs - n_docs // 5)
        hi = lo + n_docs // 5
        mid = (lo + hi) // 2
        e_lo = r.randrange(0, n_embs // 2)
        e_hi = e_lo + n_embs // 2
        for step in PIPELINE:
            if step.startswith("feed:") or step == "matview_read":
                ops.append({"kind": "stream", "stream": step.split(":")[-1], "cycle": c})
                continue
            op = {"kind": "llm", "stage": step, "doc_lo": lo, "doc_hi": hi,
                  "emb_lo": e_lo, "emb_hi": e_hi, "cycle": c}
            if step == "minhash_index_build":
                op["doc_hi"] = mid
            elif step in ("dedup_incremental", "minhash_index_append"):
                op["doc_lo"] = mid
            elif step in ("knn_cosine", "ivf_probe"):
                op["query_id"] = r.randrange(e_lo, e_hi)
                op["k"] = r.randrange(5, 20)
            ops.append(op)
    return ops

# ------------------------------------------------------------ query deck


def query_deck(n):
    """Deck `n` of the query workload: 24 short analyst queries in smooth
    weighted round-robin order (slots of INTERACTIVE), with one of the 8
    heavy analytic shapes after every third (in turn, starting at the
    n-th), so every deck runs every template. Every run plays the same
    order; only the constants depend on the seed."""
    credit = {t: 0 for t in INTERACTIVE}
    total = sum(w for _, w in INTERACTIVE.values())
    short = []
    for _ in range(total):
        for t, (_, w) in INTERACTIVE.items():
            credit[t] += w
        best = max(credit, key=credit.get)
        credit[best] -= total
        short.append(best)
    deck = []
    heavy = [t for t, _ in ANALYTIC]
    for i, t in enumerate(short):
        deck.append(t)
        if i % 3 == 2:
            deck.append(heavy[(n + i // 3) % len(heavy)])
    return deck


TEMPLATES = {**{t: g for t, (g, _) in INTERACTIVE.items()}, **dict(ANALYTIC)}

# ----------------------------------------------------------- entry point

# cycle_s: nominal length of one cycle (a deck, a pipeline cycle) on a
# 4-core host; a run plays round(seconds / cycle_s) whole cycles, so every
# run times the same template mix whatever the host's speed
SPEC = {
    "query": {"clients": 2, "sf": 0.1, "cycle_s": 17},
    "pipeline": {"clients": 1, "sf": 0.1, "cycle_s": 20,
                 "batch_events": 1000, "batch_span_s": 600},
}


def _kql_op(i, template, r):
    kql, sql, tables = TEMPLATES[template](r)
    return {"id": i, "template": template, "kind": "kql", "kql": kql,
            "sql": sql, "tables": tables}


def generate(workload, seed, cycles, n_docs=5000, n_embs=2000):
    """The timed op list of one run, `cycles` whole cycles: a pure
    function of its arguments. Pipeline cycles count from 1; cycle 0 is
    the warm-up's (see warmup_ops)."""
    r = random.Random(f"{workload}:{seed}")
    if workload == "query":
        ops = [(t, n) for n in range(cycles) for t in query_deck(n)]
        return [dict(_kql_op(i, t, r), cycle=n) for i, (t, n) in enumerate(ops)]
    if workload == "pipeline":
        ops = pipeline_ops(r, n_docs, n_embs, cycles + 1)
        for i, op in enumerate(ops):
            op["id"] = i
            op["template"] = op.get("stage") or op["stream"]
        return [op for op in ops if op["cycle"] > 0]
    raise ValueError(f"unknown workload {workload!r}")


WARMUP_SF = 0.001


def warmup_ops(workload, seed, n_docs=5000, n_embs=2000):
    """The warm-up pass, every template once: query ops on the sf0.001
    fixture; pipeline ops (the cycle before the timed ones) on the run's
    own data and runner, so the streams are past their first micro-batch
    and the index tables exist. Ops sharing a `group` run in order;
    groups run concurrently, in list order, so the slowest (heavy shapes,
    the stream-stream join, the index chains) lead."""
    if workload == "query":
        r = random.Random(f"warm:{seed}")
        names = [t for t, _ in ANALYTIC] + list(INTERACTIVE)
        return [dict(_kql_op(-1 - i, t, r), group=str(i)) for i, t in enumerate(names)]
    r = random.Random(f"{workload}:{seed}")
    ops = pipeline_ops(r, n_docs, n_embs, 1)
    for op in ops:
        op["template"] = op.get("stage") or op["stream"]
        op["group"] = (("tumbling_matview" if op["stream"] == "matview_read" else op["stream"])
                       if op["kind"] == "stream" else
                       "ivf" if op["stage"].startswith("ivf") else
                       "minhash" if "minhash_index" in op["stage"] or "incremental" in op["stage"] else
                       op["stage"])
    lead = ["join", "minhash", "ivf", "tumbling_matview"]
    ops.sort(key=lambda op: lead.index(op["group"]) if op["group"] in lead else len(lead))
    for i, op in enumerate(ops):
        op["id"] = -1 - i
    return ops
