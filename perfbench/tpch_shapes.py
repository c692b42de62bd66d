"""The 22 TPC-H query shapes the engine's registry runs through its SQL
front door (``_SQL_Q*`` and the texts inside ``q_sql_q3``/``q_sql_q5``/
``q_sql_q6`` in ``__spark_entry__.py``), as templates whose literals are
drawn from a seeded generator.

Q13's outer join carries a seeded filter on ``orders`` in its ON clause,
as TPC-H Q13's comment filter does (the schema has no comment column), so
that every shape has literals to vary.

Q7 computes its volume in decimals, like the registry's other shapes,
instead of casting a double product to decimal: Spark and DuckDB round
that cast differently in the last cent, which would make the oracle
comparison depend on the engines' cast rules rather than on the engine
under test.

The benchmark keeps its own copy so that the statements it sends do not
change when the registry does: a benchmark must send the same statements
to the parent commit and to the change.  Every text is plain SQL that both
the engine and DuckDB accept, so the same string is the oracle.
"""

from __future__ import annotations

import datetime as _dt

SHAPES = {
    "q1": """select l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as decimal(12,2))) as double) as sum_qty,
       cast(sum(cast(l_extendedprice as decimal(12,2))
                * (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2))))
            as double) as sum_disc_price,
       count(*) as count_order
from lineitem
where l_shipdate <= '{date}'
group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus""",
    "q2": """select s_acctbal, s_name, n_name, p_partkey, p_name, l_extendedprice
from part, lineitem, supplier, nation, region
where p_partkey = l_partkey and s_suppkey = l_suppkey
  and s_nationkey = n_nationkey and n_regionkey = r_regionkey
  and r_name = '{region}' and p_size = {size}
  and l_extendedprice = (select min(l2.l_extendedprice)
                         from lineitem l2, supplier s2, nation n2, region r2
                         where l2.l_partkey = p_partkey
                           and s2.s_suppkey = l2.l_suppkey
                           and s2.s_nationkey = n2.n_nationkey
                           and n2.n_regionkey = r2.r_regionkey
                           and r2.r_name = '{region}')
order by s_acctbal desc, n_name, s_name, p_partkey, l_extendedprice
limit 100""",
    "q3": """select o_orderkey, cast(sum(cast(l_extendedprice as decimal(12,2))
         * (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))) as double) as revenue,
count(*) as n
from customer join orders on c_custkey = o_custkey
join lineitem on o_orderkey = l_orderkey
where c_mktsegment = '{segment}'
group by o_orderkey""",
    "q4": """select o_orderpriority, count(*) as order_count
from orders
where o_orderdate >= '{date}' and o_orderdate < '{date_1y}'
  and exists (select * from lineitem
              where l_orderkey = o_orderkey and l_returnflag = '{flag}')
group by o_orderpriority
order by o_orderpriority""",
    "q5": """select n_name, cast(sum(cast(l_extendedprice as decimal(12,2))
         * (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))) as double) as revenue
from customer
join orders on c_custkey = o_custkey
join lineitem on l_orderkey = o_orderkey
join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
join nation on s_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
where r_name = '{region}'
and o_orderdate >= '{date}' and o_orderdate < '{date_1y}'
group by n_name""",
    "q6": """select cast(sum(cast(l_extendedprice as decimal(12,2))
         * cast(l_discount as decimal(12,2))) as double) as revenue,
count(*) as n
from lineitem
where l_shipdate >= '{date}' and l_shipdate < '{date_1y}'
and l_discount between {disc_lo} and {disc_hi} and l_quantity < {qty}""",
    "q7": """select supp_nation, cust_nation, l_year,
       cast(sum(volume) as double) as revenue
from (
  select n1.n_name as supp_nation, n2.n_name as cust_nation,
         year(l_shipdate) as l_year,
         cast(l_extendedprice as decimal(12,2))
           * (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2))) as volume
  from supplier, lineitem, orders, customer, nation n1, nation n2
  where s_suppkey = l_suppkey and o_orderkey = l_orderkey
    and c_custkey = o_custkey
    and s_nationkey = n1.n_nationkey and c_nationkey = n2.n_nationkey
    and ((n1.n_name = '{nation}' and n2.n_name = '{nation2}')
      or (n1.n_name = '{nation2}' and n2.n_name = '{nation}'))
    and l_shipdate between '{date}' and '{date_2y}'
) shipping
group by supp_nation, cust_nation, l_year
order by supp_nation, cust_nation, l_year""",
    "q8": """select o_year,
       cast(floor(1000 * sum(case when nation = '{nation}' then volume else 0 end)
                  / sum(volume)) as bigint) as mkt_share_permille
from (
  select year(o_orderdate) as o_year,
         l_extendedprice * (1 - l_discount) as volume,
         n2.n_name as nation
  from part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  where p_partkey = l_partkey and s_suppkey = l_suppkey
    and l_orderkey = o_orderkey and o_custkey = c_custkey
    and c_nationkey = n1.n_nationkey and n1.n_regionkey = r_regionkey
    and r_name = '{region}' and s_nationkey = n2.n_nationkey
    and p_type = '{ptype}'
) all_nations
group by o_year
order by o_year""",
    "q9": """select nation, o_year,
       cast(sum(cast(l_extendedprice as decimal(12,2))
                * (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))
            - cast(p_retailprice as decimal(12,2)) * cast(l_quantity as decimal(12,2))) as double) as sum_profit
from (
  select n_name as nation, year(o_orderdate) as o_year,
         l_extendedprice, l_discount, p_retailprice, l_quantity
  from part, supplier, lineitem, orders, nation
  where s_suppkey = l_suppkey and p_partkey = l_partkey
    and o_orderkey = l_orderkey and s_nationkey = n_nationkey
    and p_name like '%{color}%'
) profit
group by nation, o_year
order by nation, o_year desc""",
    "q10": """select c_custkey, c_name,
       cast(sum(cast(l_extendedprice as decimal(12,2))
                * (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2))))
            as double) as revenue
from customer, orders, lineitem
where c_custkey = o_custkey
  and o_orderkey = l_orderkey
  and l_returnflag = '{flag}'
group by c_custkey, c_name
order by revenue desc, c_custkey
limit {limit}""",
    "q11": """select l_partkey,
       cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(l_quantity as decimal(12,2))) as double) as part_value
from lineitem, supplier, nation
where l_suppkey = s_suppkey and s_nationkey = n_nationkey and n_name = '{nation}'
group by l_partkey
having part_value > 0.001 * (select cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(l_quantity as decimal(12,2))) as double)
                             from lineitem, supplier, nation
                             where l_suppkey = s_suppkey and s_nationkey = n_nationkey and n_name = '{nation}')
order by part_value desc, l_partkey""",
    "q12": """select cast(sum(case when o_orderpriority = '{prio}' or o_orderpriority = '{prio2}'
                then 1 else 0 end) as bigint) as high_line_count,
       cast(sum(case when o_orderpriority = '{prio}' or o_orderpriority = '{prio2}'
                then 0 else 1 end) as bigint) as low_line_count,
       count(*) as n_lines
from orders, lineitem
where o_orderkey = l_orderkey
  and l_shipdate > o_orderdate""",
    "q13": """select c_count, count(*) as custdist
from (select c_custkey, count(o_orderkey) as c_count
      from customer left join orders
        on c_custkey = o_custkey and o_orderpriority <> '{prio}'
      group by c_custkey) t
group by c_count""",
    "q14": """select year(l_shipdate) as y, month(l_shipdate) as m,
       cast(sum(case when p_type = '{ptype}'
                then cast(l_extendedprice as decimal(12,2))
                     * (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))
                else cast(0 as decimal(12,2)) end) as double) as promo_rev,
       count(*) as n_lines
from lineitem, part
where l_partkey = p_partkey
group by year(l_shipdate), month(l_shipdate)""",
    "q15": """with revenue as (
  select l_suppkey as supplier_no,
         cast(sum(cast(l_extendedprice as decimal(12,2))
                  * (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))) as decimal(18,4)) as total_revenue
  from lineitem
  where l_shipdate >= '{date}' and l_shipdate < '{date_3m}'
  group by l_suppkey
)
select s_suppkey, s_name, cast(total_revenue as double) as total_revenue
from supplier, revenue
where s_suppkey = supplier_no
  and total_revenue = (select max(total_revenue) from revenue)
order by s_suppkey""",
    "q16": """select p_brand, p_type, p_size, count(distinct l_suppkey) as supplier_cnt
from lineitem, part
where p_partkey = l_partkey
  and p_brand <> '{brand}'
  and p_size in ({sizes})
  and l_suppkey not in (select s_suppkey from supplier where s_acctbal < 0)
group by p_brand, p_type, p_size
order by supplier_cnt desc, p_brand, p_type, p_size""",
    "q17": """select cast(floor(sum(cast(l_extendedprice as decimal(12,2))) / 7) as bigint) as avg_yearly_f
from lineitem, part
where p_partkey = l_partkey and p_brand = '{brand}'
  and l_quantity < (select 0.2 * avg(l_quantity) from lineitem l2
                    where l2.l_partkey = p_partkey)""",
    "q18": """select c_custkey, c_name, ok, total_qty
from customer, (select o_orderkey as ok, o_custkey as ocust,
                       cast(sum(cast(l_quantity as decimal(12,2))) as double) as total_qty
                from orders, lineitem
                where l_orderkey = o_orderkey
                group by o_orderkey, o_custkey
                having total_qty > {qty_big}) t
where c_custkey = ocust
order by total_qty desc, ok
limit 20""",
    "q19": """select cast(sum(cast(l_extendedprice as decimal(12,2))
                * (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2))))
            as double) as revenue,
       count(*) as n_items
from lineitem, part
where l_partkey = p_partkey
  and ((p_type = 'SMALL' and l_quantity between {q1} and {q1_hi})
    or (p_type = 'MEDIUM' and l_quantity between {q2} and {q2_hi})
    or (p_type = 'LARGE' and l_quantity between {q3} and {q3_hi}))""",
    "q20": """select s_name, s_acctbal
from supplier, nation
where s_suppkey in (
    select l_suppkey from (
      select l_suppkey, sum(l_quantity) as qty
      from lineitem
      where l_shipdate >= '{date}'
        and l_partkey in (select p_partkey from part where p_name like '{color}%')
      group by l_suppkey) t
    where qty > 50)
  and s_nationkey = n_nationkey and n_name = '{nation}'
order by s_name""",
    "q21": """select s_name, count(*) as numwait
from supplier, lineitem l1, orders, nation
where s_suppkey = l1.l_suppkey and o_orderkey = l1.l_orderkey
  and o_orderstatus = 'F' and l1.l_returnflag = 'R'
  and exists (select * from lineitem l2
              where l2.l_orderkey = l1.l_orderkey
                and l2.l_suppkey <> l1.l_suppkey)
  and not exists (select * from lineitem l3
                  where l3.l_orderkey = l1.l_orderkey
                    and l3.l_suppkey <> l1.l_suppkey
                    and l3.l_returnflag = 'R')
  and s_nationkey = n_nationkey and n_name = '{nation}'
group by s_name
order by numwait desc, s_name
limit 100""",
    "q22": """select cntrycode, count(*) as numcust,
       cast(sum(cast(c_acctbal as decimal(12,2))) as double) as totacctbal
from (
  select substring(c_name, 16, 2) as cntrycode, c_acctbal
  from customer
  where substring(c_name, 16, 2) in ({codes})
    and c_acctbal > (select avg(c_acctbal) from customer where c_acctbal > 0.00)
    and not exists (select * from orders
                    where o_custkey = c_custkey and o_orderstatus = 'P')
) custsale
group by cntrycode
order by cntrycode""",
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]


def _shift(day: _dt.date, days: int = 0, years: int = 0, months: int = 0) -> str:
    m = day.month - 1 + months
    d = _dt.date(day.year + years + m // 12, m % 12 + 1, day.day) + _dt.timedelta(days)
    return d.isoformat()


def draw_params(rng, n_customers: int) -> dict:
    """One seeded set of literals (``rng`` is a ``random.Random``)."""
    day = _dt.date(1995, 1, 1) + _dt.timedelta(rng.randrange(0, 6 * 365))
    day = day.replace(day=min(day.day, 28))
    nations = rng.sample(range(25), 2)
    q1 = rng.randint(1, 10)
    q2 = rng.randint(10, 20)
    q3 = rng.randint(20, 30)
    disc = rng.randint(2, 9) / 100
    code_pool = range(min(100, max(n_customers // 10, 5)))
    return {
        "date": day.isoformat(),
        "date_1y": _shift(day, years=1),
        "date_2y": _shift(day, years=2),
        "date_3m": _shift(day, months=3),
        "region": rng.choice(_REGIONS),
        "size": rng.randint(1, 50),
        "segment": rng.choice(_SEGMENTS),
        "flag": rng.choice("ANR"),
        "disc_lo": round(disc - 0.01, 2),
        "disc_hi": round(disc + 0.01, 2),
        "qty": rng.randint(24, 25),
        "nation": f"NATION_{nations[0]}",
        "nation2": f"NATION_{nations[1]}",
        "ptype": rng.choice(_TYPES),
        "color": rng.choice(_COLORS),
        "limit": rng.randint(10, 30),
        "prio": (p := rng.sample(_PRIORITIES, 2))[0],
        "prio2": p[1],
        "brand": f"Brand#{rng.randint(1, 25)}",
        "sizes": ", ".join(str(s) for s in sorted(rng.sample(range(1, 51), 8))),
        "qty_big": rng.randint(140, 200),
        "q1": q1, "q1_hi": q1 + 10,
        "q2": q2, "q2_hi": q2 + 10,
        "q3": q3, "q3_hi": q3 + 10,
        "codes": ", ".join(f"'{c:02d}'" for c in sorted(rng.sample(code_pool, 5))),
    }


def render(shape: str, params: dict) -> str:
    return SHAPES[shape].format(**params)

