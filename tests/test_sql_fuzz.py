"""Differential SQL fuzzing: the hand-written SQL front door vs DuckDB.

The reference's entire SQL test story is two YAML cases
(``dolomite/resources/limit.yaml:1-11``); a hand-written
tokenizer/parser/planner (``sql.py``) dies in the edge cases — operator
precedence, NULL ordering, implicit casts, join-type semantics, set-op
distinctness — so this harness generates hundreds of random queries
INSIDE the documented grammar (``sql.py:13-22``), runs each through
``QueryPlanner.sql`` (parse → Hep → Cascades → Spark) AND through DuckDB
over the same parquet, and compares full result multisets.

Determinism rules baked into the generator (mismatches must mean bugs,
not float noise):
- ORDER BY ... LIMIT only ever orders by ALL output columns with
  explicit NULLS FIRST/LAST, and only on float-free outputs — ties are
  then whole-row duplicates, so the kept multiset is engine-independent.
- sum/avg over doubles appear only in final SELECT lists (compared with
  tolerance), never in HAVING / scalar-subquery comparisons where a
  1-ulp difference flips row membership.
- Timestamp columns are excluded (casting/formatting differences are a
  separate concern from parser correctness).

Seed-pinned: failures reproduce; print the SQL on mismatch.
"""

from __future__ import annotations

import math
import random
from collections import Counter
from decimal import Decimal

import duckdb
import pytest

from .conftest import SF_DIR

# ---------------------------------------------------------------------------
# catalog subset usable by the generator (no timestamps / long text / json)
# ---------------------------------------------------------------------------

INT, FLT, STR = "int", "float", "str"

TABLES = {
    "region": {"r_regionkey": INT, "r_name": STR},
    "nation": {"n_nationkey": INT, "n_name": STR, "n_regionkey": INT},
    "customer": {
        "c_custkey": INT,
        "c_name": STR,
        "c_nationkey": INT,
        "c_acctbal": FLT,
        "c_mktsegment": STR,
    },
    "supplier": {
        "s_suppkey": INT,
        "s_name": STR,
        "s_nationkey": INT,
        "s_acctbal": FLT,
    },
    "part": {
        "p_partkey": INT,
        "p_name": STR,
        "p_brand": STR,
        "p_type": STR,
        "p_size": INT,
        "p_retailprice": FLT,
    },
    "orders": {
        "o_orderkey": INT,
        "o_custkey": INT,
        "o_orderstatus": STR,
        "o_totalprice": FLT,
        "o_orderpriority": STR,
    },
    "lineitem": {
        "l_orderkey": INT,
        "l_partkey": INT,
        "l_suppkey": INT,
        "l_linenumber": INT,
        "l_quantity": FLT,
        "l_extendedprice": FLT,
        "l_discount": FLT,
        "l_tax": FLT,
        "l_returnflag": STR,
        "l_linestatus": STR,
    },
    "events": {
        "event_id": INT,
        "user_id": INT,
        "event_type": STR,
        "value": FLT,
    },
    "documents": {"doc_id": INT, "lang": STR, "source": STR, "n_chars": INT},
}

# (left_table, left_col, right_table, right_col) — joinable key pairs
JOIN_EDGES = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events", "user_id", "customer", "c_custkey"),
]

# key columns safe for [NOT] IN subqueries (non-nullable in the data)
KEY_COLS = {
    t: [c for c, ty in cols.items() if ty == INT and ("key" in c or c.endswith("_id"))]
    for t, cols in TABLES.items()
}

# single-column primary keys — the unique ORDER BY keys that make
# row_number()/frame sums deterministic (lineitem has no single-col pk)
PK = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
}


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def pools(ddb):
    """Deterministic literal pools: a few real string values per varchar
    column, min/max per numeric column — so predicates are sometimes
    selective and sometimes not, but always type-correct."""
    p = {}
    for t, cols in TABLES.items():
        for c, ty in cols.items():
            if ty == STR:
                vals = [
                    r[0]
                    for r in ddb.execute(
                        f"SELECT DISTINCT {c} FROM {t} "
                        f"WHERE {c} IS NOT NULL ORDER BY {c} LIMIT 8"
                    ).fetchall()
                ]
                p[(t, c)] = vals or ["x"]
            else:
                mn, mx = ddb.execute(
                    f"SELECT min({c}), max({c}) FROM {t}"
                ).fetchone()
                p[(t, c)] = (mn or 0, mx if mx is not None else 1)
    return p


# ---------------------------------------------------------------------------
# result canonicalization + comparison
# ---------------------------------------------------------------------------


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, Decimal):
        if v == v.to_integral_value():
            return int(v)
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        if float(v).is_integer() and abs(v) < 2**53:
            return int(v)
        return float(f"{v:.6e}")  # 7 significant digits
    return v


def _canon_row(row):
    return tuple(_canon(v) for v in row)


def _sort_key(row):
    return tuple(
        (1, "", "") if v is None else (0, str(type(v).__name__ == "str"), str(v))
        for v in row
    )


def _isclose_val(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def rows_match(got, want):
    """Multiset equality of canonicalized rows; float-tolerant fallback
    compares sorted row lists pairwise (rounding at the 7th significant
    digit can split an otherwise-equal pair across a boundary)."""
    cg = [_canon_row(r) for r in got]
    cw = [_canon_row(r) for r in want]
    if Counter(cg) == Counter(cw):
        return True
    if len(cg) != len(cw):
        return False
    sg = sorted(cg, key=_sort_key)
    sw = sorted(cw, key=_sort_key)
    return all(
        len(a) == len(b) and all(_isclose_val(x, y) for x, y in zip(a, b))
        for a, b in zip(sg, sw)
    )


# ---------------------------------------------------------------------------
# query generator
# ---------------------------------------------------------------------------


class Gen:
    def __init__(self, rng: random.Random, pools):
        self.rng = rng
        self.pools = pools

    # -- literals ----------------------------------------------------------

    def _num_lit(self, t, c):
        mn, mx = self.pools[(t, c)]
        v = mn + self.rng.random() * (mx - mn)
        if TABLES[t][c] == INT:
            return str(int(v))
        return f"{v:.2f}"

    def _str_lit(self, t, c):
        v = self.rng.choice(self.pools[(t, c)])
        return "'" + v.replace("'", "''") + "'"

    # -- predicates over one table's columns -------------------------------

    def _atom_pred(self, tabs):
        """One comparison; ``tabs`` is the list of table names in scope."""
        r = self.rng
        t = r.choice(tabs)
        cols = list(TABLES[t].items())
        c, ty = r.choice(cols)
        if ty == STR:
            kind = r.randrange(4)
            if kind == 0:
                return f"{c} = {self._str_lit(t, c)}"
            if kind == 1:
                vals = ", ".join(
                    sorted({self._str_lit(t, c) for _ in range(r.randint(2, 4))})
                )
                neg = "NOT " if r.random() < 0.3 else ""
                return f"{c} {neg}IN ({vals})"
            if kind == 2:
                sample = r.choice(self.pools[(t, c)])
                alnum = "".join(ch for ch in sample if ch.isalnum())
                if len(alnum) >= 2:
                    k = r.randint(2, min(4, len(alnum)))
                    start = r.randrange(len(alnum) - k + 1)
                    neg = "NOT " if r.random() < 0.25 else ""
                    return f"{c} {neg}LIKE '%{alnum[start:start + k]}%'"
                return f"{c} = {self._str_lit(t, c)}"
            return f"{c} {r.choice(['<', '>', '<=', '>=', '<>'])} {self._str_lit(t, c)}"
        # numeric
        kind = r.randrange(4)
        if kind == 0:
            return f"{c} {r.choice(['<', '>', '<=', '>=', '=', '<>'])} {self._num_lit(t, c)}"
        if kind == 1:
            a, b = self._num_lit(t, c), self._num_lit(t, c)
            lo, hi = (a, b) if float(a) <= float(b) else (b, a)
            neg = "NOT " if r.random() < 0.25 else ""
            return f"{c} {neg}BETWEEN {lo} AND {hi}"
        if kind == 2 and ty == INT:
            vals = ", ".join(
                sorted({self._num_lit(t, c) for _ in range(r.randint(2, 4))})
            )
            return f"{c} IN ({vals})"
        if kind == 3 and r.random() < 0.2:
            isnot = "NOT " if r.random() < 0.5 else ""
            return f"{c} IS {isnot}NULL"
        return f"{c} >= {self._num_lit(t, c)}"

    def _pred(self, tabs, depth=0):
        r = self.rng
        n = r.randint(1, 3)
        parts = [self._atom_pred(tabs) for _ in range(n)]
        out = parts[0]
        for p in parts[1:]:
            conj = r.choice(["AND", "AND", "OR"])
            out = f"({out} {conj} {p})" if r.random() < 0.4 else f"{out} {conj} {p}"
        return out

    # -- select items ------------------------------------------------------

    def _value_expr(self, tabs):
        """(sql, type) — a non-aggregate scalar expression."""
        r = self.rng
        t = r.choice(tabs)
        c, ty = r.choice(list(TABLES[t].items()))
        roll = r.random()
        if ty == STR:
            # string scalar functions resolve generically against
            # pyspark.sql.functions; names/semantics match DuckDB
            # (substring is 1-based in both)
            if roll < 0.30:
                kind = r.randrange(5)
                if kind == 0:
                    return f"upper({c})", STR
                if kind == 1:
                    return f"lower({c})", STR
                if kind == 2:
                    return f"trim({c})", STR
                if kind == 3:
                    return (
                        f"substring({c}, {r.randint(1, 4)}, {r.randint(1, 6)})",
                        STR,
                    )
                return f"length({c})", INT
            return c, ty
        if roll < 0.55:
            return c, ty
        if roll < 0.7:
            if ty == INT and r.random() < 0.4:
                # '%' added r8: Spark and DuckDB are both C-style
                # (dividend-sign) so the multisets agree exactly
                return f"({c} % {r.randint(2, 9)})", INT
            return f"({c} * {r.randint(2, 9)})", ty
        if roll < 0.8:
            t2 = r.choice(tabs)
            nums = [(c2, ty2) for c2, ty2 in TABLES[t2].items() if ty2 != STR]
            if nums:
                c2, ty2 = r.choice(nums)
                op = r.choice(["+", "-"])
                oty = FLT if FLT in (ty, ty2) else INT
                return f"({c} {op} {c2})", oty
            return c, ty
        if roll < 0.9:
            # CAST(double AS bigint) is excluded: Spark truncates toward
            # zero, DuckDB rounds half-to-even — a documented engine
            # semantic difference, not a parser bug
            target = "double" if ty == FLT else r.choice(["bigint", "double"])
            return f"CAST({c} AS {target})", INT if target == "bigint" else FLT
        cond = self._atom_pred([t])
        other = self._num_lit(t, c)
        return f"CASE WHEN {cond} THEN {c} ELSE {other} END", ty

    def _agg_expr(self, tabs, for_output=True):
        """(sql, type) — an aggregate call.  When ``for_output`` is
        False (HAVING / scalar subquery) only exact aggregates are
        produced: no float sum/avg whose last-ulp could flip a
        comparison."""
        r = self.rng
        t = r.choice(tabs)
        cols = list(TABLES[t].items())
        c, ty = r.choice(cols)
        choices = ["count_star", "count", "min", "max"]
        if ty != STR:
            choices += ["sum"]
        if for_output and ty == FLT:
            choices += ["avg", "sum"]
        if ty != FLT:
            choices += ["count_distinct"]
        kind = r.choice(choices)
        if kind == "count_star":
            return "count(*)", INT
        if kind == "count":
            return f"count({c})", INT
        if kind == "count_distinct":
            return f"count(DISTINCT {c})", INT
        if kind in ("min", "max"):
            return f"{kind}({c})", ty
        if kind == "avg":
            return f"avg({c})", FLT
        if not for_output and ty == FLT:
            return f"count({c})", INT
        return f"sum({c})", ty

    # -- query shapes ------------------------------------------------------

    def _order_limit(self, names, has_float):
        """ORDER BY every output column (deterministic multiset under
        LIMIT) — only for float-free outputs."""
        r = self.rng
        if has_float or not names or r.random() < 0.5:
            return "", ""
        keys = []
        for nm in names:
            d = r.choice(["ASC", "DESC"])
            nf = "NULLS FIRST" if r.random() < 0.5 else "NULLS LAST"
            keys.append(f"{nm} {d} {nf}")
        clause = f" ORDER BY {', '.join(keys)} LIMIT {r.randint(1, 50)}"
        if r.random() < 0.3:
            clause += f" OFFSET {r.randint(1, 20)}"
        return clause, clause

    def _simple(self):
        r = self.rng
        t = r.choice(list(TABLES))
        items, names, has_float = [], [], False
        for i in range(r.randint(1, 4)):
            e, ty = self._value_expr([t])
            items.append(f"{e} AS c{i}")
            names.append(f"c{i}")
            has_float = has_float or ty == FLT
        distinct = "DISTINCT " if r.random() < 0.2 else ""
        where = f" WHERE {self._pred([t])}" if r.random() < 0.85 else ""
        body = f"SELECT {distinct}{', '.join(items)} FROM {t}{where}"
        ol, _ = self._order_limit(names, has_float)
        return body + ol, body + ol

    def _join(self):
        r = self.rng
        edge = r.choice(JOIN_EDGES)
        lt, lc, rt, rc = edge
        jt = r.choice(
            ["JOIN", "JOIN", "JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN",
             "LEFT SEMI JOIN", "LEFT ANTI JOIN"]
        )
        semi_anti = "SEMI" in jt or "ANTI" in jt
        tabs = [lt] if semi_anti else [lt, rt]
        # optional third hop for plain inner joins
        third = None
        if jt == "JOIN" and r.random() < 0.4:
            nxt = [e for e in JOIN_EDGES if e[0] in (lt, rt) and e != edge]
            if nxt:
                third = r.choice(nxt)
                if third[2] not in tabs:
                    tabs.append(third[2])
                else:
                    third = None
        items, names, has_float = [], [], False
        for i in range(r.randint(1, 4)):
            e, ty = self._value_expr(tabs)
            items.append(f"{e} AS c{i}")
            names.append(f"c{i}")
            has_float = has_float or ty == FLT
        # ~20%: a join-strategy hint on one of the tables — the ENGINE
        # must pin the strategy without changing results; DuckDB reads
        # the block as a comment, so oracle parity is semantic proof
        # across every join type/shape this generator emits
        hint = ""
        if r.random() < 0.2:
            kind = r.choice(["BROADCAST", "MERGE", "SHUFFLE_HASH"])
            hint = f"/*+ {kind}({r.choice(tabs)}) */ "
        sql = f"SELECT {hint}{', '.join(items)} FROM {lt} {jt} {rt} ON {lc} = {rc}"
        o_jt = jt.replace("LEFT SEMI JOIN", "SEMI JOIN").replace(
            "LEFT ANTI JOIN", "ANTI JOIN"
        )
        osql = f"SELECT {', '.join(items)} FROM {lt} {o_jt} {rt} ON {lc} = {rc}"
        if third:
            hop = f" JOIN {third[2]} ON {third[1]} = {third[3]}"
            sql += hop
            osql += hop
        if r.random() < 0.7:
            w = f" WHERE {self._pred(tabs)}"
            sql += w
            osql += w
        ol, _ = self._order_limit(names, has_float)
        return sql + ol, osql + ol

    def _comma_join(self):
        """Comma joins over a random connected 3-4 table subgraph with
        the TEXTUAL order scrambled — when scrambling leaves adjacent
        tables unconnected, the cross join survives the WHERE-merge and
        the Cascades join order enumeration rebuilds the graph; when it
        doesn't, the merge path handles it.  Either way
        DuckDB executes the identical SQL natively — differential proof
        over the reorder machinery's whole surface."""
        r = self.rng
        edge = r.choice(JOIN_EDGES)
        tabs = [edge[0], edge[2]]
        conds = [f"{edge[1]} = {edge[3]}"]
        for _ in range(r.randint(1, 2)):
            ext = [
                e for e in JOIN_EDGES if (e[0] in tabs) != (e[2] in tabs)
            ]
            if not ext:
                break
            e = r.choice(ext)
            tabs.append(e[2] if e[2] not in tabs else e[0])
            conds.append(f"{e[1]} = {e[3]}")
        r.shuffle(tabs)
        r.shuffle(conds)
        items, names, has_float = [], [], False
        for i in range(r.randint(1, 3)):
            e, ty = self._value_expr(tabs)
            items.append(f"{e} AS c{i}")
            names.append(f"c{i}")
            has_float = has_float or ty == FLT
        where = " AND ".join(conds)
        if r.random() < 0.6:
            where += f" AND ({self._pred(tabs)})"
        sql = f"SELECT {', '.join(items)} FROM {', '.join(tabs)} WHERE {where}"
        ol, _ = self._order_limit(names, has_float)
        return sql + ol, sql + ol

    def _agg(self):
        r = self.rng
        use_join = r.random() < 0.4
        if use_join:
            lt, lc, rt, rc = r.choice(JOIN_EDGES)
            tabs = [lt, rt]
            frm = f"{lt} JOIN {rt} ON {lc} = {rc}"
        else:
            t = r.choice(list(TABLES))
            tabs = [t]
            frm = t
        nkeys = r.randint(1, 2)
        keys = []
        for t in [r.choice(tabs) for _ in range(nkeys)]:
            c, ty = r.choice(list(TABLES[t].items()))
            if c not in keys:
                keys.append(c)
        items = [f"{k} AS k{i}" for i, k in enumerate(keys)]
        names = [f"k{i}" for i in range(len(keys))]
        key_types = []
        for k in keys:
            for t in tabs:
                if k in TABLES[t]:
                    key_types.append(TABLES[t][k])
                    break
        has_float = FLT in key_types
        for i in range(r.randint(1, 3)):
            e, ty = self._agg_expr(tabs)
            items.append(f"{e} AS a{i}")
            names.append(f"a{i}")
            has_float = has_float or ty == FLT
        where = f" WHERE {self._pred(tabs)}" if r.random() < 0.6 else ""
        having = ""
        if r.random() < 0.4:
            if r.random() < 0.35:
                # arithmetic over two exact aggregates — exercises the
                # parser's lift of raw aggregate calls out of HAVING
                ht = r.choice(tabs)
                hints = [c for c, t2 in TABLES[ht].items() if t2 == INT]
                if hints:
                    c1, c2 = r.choice(hints), r.choice(hints)
                    a1 = f"{r.choice(['min', 'max'])}({c1})"
                    a2 = r.choice([f"min({c2})", f"count({c2})"])
                    having = (
                        f" HAVING ({a1} - {a2}) "
                        f"{r.choice(['>', '>=', '<', '<='])} {r.randint(-5, 50)}"
                    )
            if not having:
                he, hty = self._agg_expr(tabs, for_output=False)
                if hty != STR:
                    lit = (
                        r.randint(0, 5)
                        if hty == INT
                        else self._num_lit(
                            tabs[0],
                            r.choice(
                                [
                                    c
                                    for c, t2 in TABLES[tabs[0]].items()
                                    if t2 != STR
                                ]
                                or ["x"]
                            ),
                        )
                    )
                    having = (
                        f" HAVING {he} {r.choice(['>', '>=', '<', '<='])} {lit}"
                    )
        sql = (
            f"SELECT {', '.join(items)} FROM {frm}{where} "
            f"GROUP BY {', '.join(keys)}{having}"
        )
        ol, _ = self._order_limit(names, has_float)
        return sql + ol, sql + ol

    def _setop(self):
        r = self.rng
        # two branches with a compatible (int, str) signature
        sig = r.choice([(INT,), (STR,), (INT, STR), (INT, INT)])

        def branch():
            t = r.choice(list(TABLES))
            outs = []
            for i, ty in enumerate(sig):
                cands = [c for c, t2 in TABLES[t].items() if t2 == ty]
                if not cands:
                    return None
                outs.append(f"{r.choice(cands)} AS c{i}")
            where = f" WHERE {self._pred([t])}" if r.random() < 0.7 else ""
            return f"SELECT {', '.join(outs)} FROM {t}{where}"

        b1, b2 = branch(), branch()
        if b1 is None or b2 is None:
            return self._simple()
        op = r.choice(
            [
                "UNION",
                "UNION ALL",
                "INTERSECT",
                "EXCEPT",
                "INTERSECT ALL",
                "EXCEPT ALL",
            ]
        )
        sql = f"{b1} {op} {b2}"
        return sql, sql

    def _in_subquery(self):
        r = self.rng
        lt, lc, rt, rc = r.choice(JOIN_EDGES)
        neg = "NOT " if r.random() < 0.3 else ""
        subw = f" WHERE {self._pred([rt])}" if r.random() < 0.7 else ""
        if r.random() < 0.3:
            # r12: CORRELATED membership — an inner = outer equality
            # along a second column pair lifts into the semi/anti join
            o_ints = [c for c, ty in TABLES[lt].items() if ty == INT]
            i_ints = [
                c for c, ty in TABLES[rt].items()
                if ty == INT and c != rc
            ]
            if o_ints and i_ints:
                corr = f"{r.choice(i_ints)} = {r.choice(o_ints)}"
                subw = (
                    f"{subw} AND {corr}" if subw else f" WHERE {corr}"
                )
        items, names, has_float = [], [], False
        for i in range(r.randint(1, 3)):
            e, ty = self._value_expr([lt])
            items.append(f"{e} AS c{i}")
            names.append(f"c{i}")
            has_float = has_float or ty == FLT
        outw = f" AND {self._atom_pred([lt])}" if r.random() < 0.5 else ""
        sql = (
            f"SELECT {', '.join(items)} FROM {lt} "
            f"WHERE {lc} {neg}IN (SELECT {rc} FROM {rt}{subw}){outw}"
        )
        ol, _ = self._order_limit(names, has_float)
        return sql + ol, sql + ol

    def _in_or(self):
        """Membership tests under OR/NOT (r12): IN or correlated-
        equality EXISTS embedded in a disjunction or a NOT-wrapped
        tree — the LEFT membership-flag-join lowering."""
        r = self.rng
        lt, lc, rt, rc = r.choice(JOIN_EDGES)
        neg = "NOT " if r.random() < 0.3 else ""
        subw = f" WHERE {self._pred([rt])}" if r.random() < 0.7 else ""
        if r.random() < 0.4:
            # correlated EXISTS along the same edge; r13 — sometimes
            # with a NON-EQUALITY correlated conjunct, sampling the
            # rowid-aggregation lowering (_agg_exists_flag)
            esubw = f" AND {self._atom_pred([rt])}" if r.random() < 0.5 else ""
            ineq = ""
            if r.random() < 0.4:
                i_ints = [
                    c for c, ty in TABLES[rt].items()
                    if ty == INT and c != rc
                ]
                if i_ints:
                    ineq = (
                        f" AND {r.choice(i_ints)} "
                        f"{r.choice(['<', '>='])} {lc} + {r.randrange(5)}"
                    )
            member = (
                f"{neg}EXISTS (SELECT {rc} FROM {rt} "
                f"WHERE {rc} = {lc}{ineq}{esubw})"
            )
        elif r.random() < 0.3:
            # r13: correlated IN/NOT IN with a non-equality conjunct —
            # the _agg_in_flag three-valued path
            i_ints = [
                c for c, ty in TABLES[rt].items()
                if ty == INT and c != rc
            ]
            corr = (
                f"{r.choice(i_ints)} "
                f"{r.choice(['<', '>='])} {lc} + {r.randrange(5)}"
                if i_ints
                else f"{rc} = {lc}"
            )
            member = (
                f"{lc} {neg}IN (SELECT {rc} FROM {rt} WHERE {corr})"
            )
        else:
            member = f"{lc} {neg}IN (SELECT {rc} FROM {rt}{subw})"
        other = self._atom_pred([lt])
        form = r.randrange(3)
        if form == 0:
            pred = f"{other} OR {member}"
        elif form == 1:
            pred = f"NOT ({member} OR {other})"
        else:
            pred = f"({member} OR {other}) AND {self._atom_pred([lt])}"
        items, names, has_float = [], [], False
        for i in range(r.randint(1, 3)):
            e, ty = self._value_expr([lt])
            items.append(f"{e} AS c{i}")
            names.append(f"c{i}")
            has_float = has_float or ty == FLT
        sql = f"SELECT {', '.join(items)} FROM {lt} WHERE {pred}"
        ol, _ = self._order_limit(names, has_float)
        return sql + ol, sql + ol

    def _any_all(self):
        """Quantified comparisons (r12): ``x op ANY/ALL (subquery)``,
        optionally correlated along a join edge (equality correlation,
        so ``= ANY`` under OR stays legal too)."""
        r = self.rng
        lt, lc, rt, rc = r.choice(JOIN_EDGES)
        o_ints = [c for c, ty in TABLES[lt].items() if ty == INT]
        i_ints = [c for c, ty in TABLES[rt].items() if ty == INT]
        if not o_ints or not i_ints:
            return self._simple()
        x = r.choice(o_ints)
        y = r.choice(i_ints)
        op = r.choice(["<", "<=", ">", ">=", "=", "<>"])
        quant = r.choice(["ANY", "ALL", "SOME"])
        subw = f" WHERE {self._pred([rt])}" if r.random() < 0.6 else ""
        if r.random() < 0.4:
            corr = f"{rc} = {lc}"
            subw = f"{subw} AND {corr}" if subw else f" WHERE {corr}"
        member = f"{x} {op} {quant} (SELECT {y} FROM {rt}{subw})"
        if op == "=" and quant in ("ANY", "SOME") and r.random() < 0.4:
            member = f"({member} OR {self._atom_pred([lt])})"
        items, names, has_float = [], [], False
        for i in range(r.randint(1, 3)):
            e, ty = self._value_expr([lt])
            items.append(f"{e} AS c{i}")
            names.append(f"c{i}")
            has_float = has_float or ty == FLT
        sql = f"SELECT {', '.join(items)} FROM {lt} WHERE {member}"
        ol, _ = self._order_limit(names, has_float)
        return sql + ol, sql + ol

    def _scalar_subquery(self):
        r = self.rng
        t = r.choice(list(TABLES))
        nums = [c for c, ty in TABLES[t].items() if ty != STR]
        c = r.choice(nums)
        t2 = r.choice(list(TABLES))
        # exact aggregates only (min/max/count) — see module docstring
        nums2 = [c2 for c2, ty2 in TABLES[t2].items() if ty2 == INT]
        if not nums2:
            t2, nums2 = "nation", ["n_nationkey"]
        c2 = r.choice(nums2)
        agg = r.choice(["min", "max"])
        subw = f" WHERE {self._pred([t2])}" if r.random() < 0.5 else ""
        items, names, has_float = [], [], False
        for i in range(r.randint(1, 3)):
            e, ty = self._value_expr([t])
            items.append(f"{e} AS c{i}")
            names.append(f"c{i}")
            has_float = has_float or ty == FLT
        sql = (
            f"SELECT {', '.join(items)} FROM {t} "
            f"WHERE {c} > (SELECT {agg}({c2}) FROM {t2}{subw})"
        )
        ol, _ = self._order_limit(names, has_float)
        return sql + ol, sql + ol

    def _exists(self):
        r = self.rng
        # correlated EXISTS along a join edge (sub references outer key)
        rt_, rc_, lt, lc = r.choice(
            [(e[0], e[1], e[2], e[3]) for e in JOIN_EDGES]
        )
        neg = "NOT " if r.random() < 0.3 else ""
        subw = f" AND {self._atom_pred([rt_])}" if r.random() < 0.6 else ""
        items, names, has_float = [], [], False
        for i in range(r.randint(1, 3)):
            e, ty = self._value_expr([lt])
            items.append(f"{e} AS c{i}")
            names.append(f"c{i}")
            has_float = has_float or ty == FLT
        sql = (
            f"SELECT {', '.join(items)} FROM {lt} "
            f"WHERE {neg}EXISTS (SELECT {rc_} FROM {rt_} "
            f"WHERE {rc_} = {lc}{subw})"
        )
        ol, _ = self._order_limit(names, has_float)
        return sql + ol, sql + ol

    def _derived(self):
        r = self.rng
        t = r.choice(list(TABLES))
        inner_items, types = [], []
        for i in range(r.randint(2, 4)):
            e, ty = self._value_expr([t])
            inner_items.append(f"{e} AS c{i}")
            types.append(ty)
        iw = f" WHERE {self._pred([t])}" if r.random() < 0.7 else ""
        inner = f"SELECT {', '.join(inner_items)} FROM {t}{iw}"
        # outer: filter / aggregate over the derived columns
        non_flt = [f"c{i}" for i, ty in enumerate(types) if ty != FLT]
        if non_flt and r.random() < 0.5:
            k = r.choice(non_flt)
            sql = (
                f"SELECT {k} AS k0, count(*) AS a0 "
                f"FROM ({inner}) AS d GROUP BY {k}"
            )
            return sql, sql
        pick = r.sample(range(len(types)), r.randint(1, len(types)))
        outs = ", ".join(f"c{i}" for i in sorted(pick))
        cond = f"c{r.randrange(len(types))} IS NOT NULL"
        sql = f"SELECT {outs} FROM ({inner}) AS d WHERE {cond}"
        return sql, sql

    def _cte(self):
        r = self.rng
        t = r.choice(list(TABLES))
        cols = list(TABLES[t])
        pick = r.sample(cols, min(len(cols), r.randint(2, 3)))
        iw = f" WHERE {self._pred([t])}" if r.random() < 0.7 else ""
        cte = f"SELECT {', '.join(pick)} FROM {t}{iw}"
        ow = f" WHERE {self._atom_pred([t])}" if r.random() < 0.5 else ""
        # outer predicate must reference picked columns only — regenerate
        # against the restricted view by filtering on a picked column
        c = r.choice(pick)
        ty = TABLES[t][c]
        if ty == STR:
            ow = f" WHERE {c} <> {self._str_lit(t, c)}"
        else:
            ow = f" WHERE {c} >= {self._num_lit(t, c)}"
        sql = f"WITH w AS ({cte}) SELECT {', '.join(pick)} FROM w{ow}"
        return sql, sql

    def _window(self):
        """Window functions with determinism by construction: row_number
        and frame sums order by the table's unique pk; rank/dense_rank
        tolerate ties (peers get equal ranks in both engines)."""
        r = self.rng
        t = r.choice(list(PK))
        pk = PK[t]
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        part = r.choice(strs) if strs and r.random() < 0.8 else None
        over_part = f"PARTITION BY {part} " if part else ""
        kind = r.randrange(5)
        if kind == 0:
            d = r.choice(["ASC", "DESC"])
            wf = f"row_number() OVER ({over_part}ORDER BY {pk} {d})"
        elif kind == 1:
            oc = r.choice(ints)
            fn = r.choice(["rank", "dense_rank"])
            wf = f"{fn}() OVER ({over_part}ORDER BY {oc} {r.choice(['ASC', 'DESC'])})"
        elif kind == 2:
            sc = r.choice(ints)
            wf = (
                f"sum({sc}) OVER ({over_part}ORDER BY {pk} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            )
        elif kind == 3:
            sc = r.choice(ints)
            wf = (
                f"sum({sc}) OVER ({over_part}ORDER BY {pk} "
                f"ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
            )
        else:
            # r13: IGNORE NULLS gap-filling (the CASE leaves ~1/3
            # non-null; ordered by the unique pk → deterministic)
            sc = r.choice(ints)
            gap = f"CASE WHEN {pk} % 3 = 0 THEN {sc} END"
            call = r.choice(
                [
                    f"lag({gap} IGNORE NULLS)",
                    f"lag({gap}, 2 IGNORE NULLS)",
                    f"lead({gap} IGNORE NULLS)",
                    f"lead({gap}, 3 IGNORE NULLS)",
                    f"last_value({gap} IGNORE NULLS)",
                ]
            )
            wf = f"{call} OVER ({over_part}ORDER BY {pk})"
        cols = [f"{pk} AS c0"] + ([f"{part} AS c1"] if part else [])
        names = ["c0"] + (["c1"] if part else [])
        sql = f"SELECT {', '.join(cols)}, {wf} AS w0 FROM {t}"
        names.append("w0")
        if r.random() < 0.6:
            sql += f" WHERE {self._pred([t])}"
        ol, _ = self._order_limit(names, False)
        return sql + ol, sql + ol

    def _window_over_agg(self):
        """Window over GROUP BY output — the lift-then-lower path: the
        aggregate inside the OVER's ORDER BY is computed by the group
        aggregate, then ranked.  rank() is tie-stable, so no unique
        tie-break is needed for multiset equality."""
        r = self.rng
        t = r.choice(list(TABLES))
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        if not strs or not ints:
            return self._agg()
        k = r.choice(strs)
        ic = r.choice(ints)
        agg = r.choice(["count(*)", f"sum({ic})", f"min({ic})", f"max({ic})"])
        wf = f"rank() OVER (ORDER BY {agg} {r.choice(['ASC', 'DESC'])})"
        where = f" WHERE {self._pred([t])}" if r.random() < 0.5 else ""
        having = f" HAVING count(*) > {r.randint(0, 2)}" if r.random() < 0.4 else ""
        # r12: the lift-then-lower path also serves grouping-set modes —
        # subtotal rows carry NULL keys and rank like any other row
        gkey = r.choice([k, f"ROLLUP ({k})", f"CUBE ({k})"])
        sql = (
            f"SELECT {k} AS c0, {agg} AS c1, {wf} AS c2 "
            f"FROM {t}{where} GROUP BY {gkey}{having}"
        )
        if r.random() < 0.35:
            # QUALIFY over the aggregation (rank ties are stable, so a
            # <= cut is a deterministic multiset in both engines)
            sql += f" QUALIFY c2 <= {r.randint(1, 4)}"
        names = ["c0", "c1", "c2"]
        ol, _ = self._order_limit(names, False)
        return sql + ol, sql + ol

    def _select_scalar(self):
        """Scalar subquery in the SELECT LIST (vs _scalar_subquery's
        WHERE position): uncorrelated one-row aggregate joined below on
        TRUE, optionally under GROUP BY (where the constant column rides
        along as an extra group key)."""
        r = self.rng
        t = r.choice(list(TABLES))
        t2 = r.choice(list(TABLES))
        ints2 = [c for c, ty in TABLES[t2].items() if ty == INT]
        if not ints2:
            return self._simple()
        sub_agg = r.choice(["min", "max", "count"])
        sc = r.choice(ints2)
        subw = f" WHERE {self._pred([t2])}" if r.random() < 0.5 else ""
        sub = (
            f"(SELECT count(*) FROM {t2}{subw})"
            if sub_agg == "count"
            else f"(SELECT {sub_agg}({sc}) FROM {t2}{subw})"
        )
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        if strs and r.random() < 0.5:
            k = r.choice(strs)
            sql = (
                f"SELECT {k} AS c0, count(*) AS c1, {sub} AS c2 "
                f"FROM {t} GROUP BY {k}"
            )
            names = ["c0", "c1", "c2"]
        else:
            pk_cols = [c for c, ty in TABLES[t].items() if ty == INT]
            if not pk_cols:
                return self._simple()
            k = r.choice(pk_cols)
            w = f" WHERE {self._pred([t])}" if r.random() < 0.6 else ""
            sql = f"SELECT {k} AS c0, {sub} AS c2 FROM {t}{w}"
            names = ["c0", "c2"]
        ol, _ = self._order_limit(names, False)
        return sql + ol, sql + ol

    def _qualify(self):
        """QUALIFY — window-filter clause (DuckDB-native, so the same
        string is the oracle).  Half the cases reference the select-list
        window ALIAS (the parser's alias-resolution path), half put the
        OVER call directly in the predicate (a hidden window column)."""
        r = self.rng
        t = r.choice(list(PK))
        pk = PK[t]
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        part = r.choice(strs) if strs and r.random() < 0.8 else None
        over = f"PARTITION BY {part} " if part else ""
        d = r.choice(["ASC", "DESC"])
        wf = f"row_number() OVER ({over}ORDER BY {pk} {d})"
        k = r.randint(1, 4)
        cols = [f"{pk} AS c0"] + ([f"{part} AS c1"] if part else [])
        names = ["c0"] + (["c1"] if part else [])
        where = f" WHERE {self._pred([t])}" if r.random() < 0.5 else ""
        if r.random() < 0.5:
            sql = (
                f"SELECT {', '.join(cols)}, {wf} AS w0 FROM {t}{where} "
                f"QUALIFY w0 <= {k}"
            )
            names.append("w0")
        else:
            sql = (
                f"SELECT {', '.join(cols)} FROM {t}{where} "
                f"QUALIFY {wf} <= {k}"
            )
        ol, _ = self._order_limit(names, False)
        return sql + ol, sql + ol

    def _self_join(self):
        """Repeated base table with aliases — exercises the parser's
        rename-on-second-occurrence path (globally-unique column names
        for Spark) against DuckDB's standard alias scoping.  The
        ``a.pk < b.pk`` conjunct keeps pair counts bounded and
        deduplicated."""
        r = self.rng
        t = r.choice(list(PK))
        pk = PK[t]
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        k = r.choice(ints)
        items, names = [], []
        for i in range(r.randint(1, 3)):
            side = r.choice(["a", "b"])
            c, ty = r.choice([(c2, t2) for c2, t2 in TABLES[t].items()])
            items.append(f"{side}.{c} AS c{i}")
            names.append(f"c{i}")
        has_float = any(
            TABLES[t][it.split(".")[1].split(" ")[0]] == FLT for it in items
        )
        sql = (
            f"SELECT {', '.join(items)} FROM {t} AS a JOIN {t} AS b "
            f"ON a.{k} = b.{k} AND a.{pk} < b.{pk}"
        )
        if r.random() < 0.6:
            c, ty = r.choice(list(TABLES[t].items()))
            side = r.choice(["a", "b"])
            if ty == STR:
                w = f"{side}.{c} <> {self._str_lit(t, c)}"
            else:
                w = f"{side}.{c} >= {self._num_lit(t, c)}"
            sql += f" WHERE {w}"
        ol, _ = self._order_limit(names, has_float)
        return sql + ol, sql + ol

    def _rollup(self):
        """GROUP BY ROLLUP/CUBE — subtotal rows carry NULL keys in both
        engines; exact aggregates only (count/min/max/sum-of-int) so
        subtotals hash-match."""
        r = self.rng
        t = r.choice(list(TABLES))
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        if len(strs) < 1 or not ints:
            return self._agg()
        keys = r.sample(strs, min(len(strs), 2))
        mode = r.choice(["ROLLUP", "CUBE"])
        ic = r.choice(ints)
        aggs = [
            "count(*) AS a0",
            f"{r.choice(['min', 'max'])}({ic}) AS a1",
            f"sum({ic}) AS a2",
        ]
        items = [f"{k} AS k{i}" for i, k in enumerate(keys)] + aggs
        where = f" WHERE {self._pred([t])}" if r.random() < 0.6 else ""
        sql = (
            f"SELECT {', '.join(items)} FROM {t}{where} "
            f"GROUP BY {mode} ({', '.join(keys)})"
        )
        # Engine semantic difference, pinned here: over an EMPTY input
        # Spark's grouping-sets expansion yields no rows at all, while
        # DuckDB (and the standard / Postgres) emit the () grouping-set
        # grand-total row (count 0, NULL aggregates).  For any non-empty
        # input every grouping-set row has count(*) >= 1, so this HAVING
        # on the ORACLE side only encodes Spark's behavior exactly
        # without affecting any other case.
        return sql, sql + " HAVING count(*) > 0"

    def _values_rows(self, sig, n) -> str:
        """n random literal rows for a VALUES list with column types
        ``sig`` — ints and strings only (floats would put engine-specific
        representation into row identity), ~10% NULL cells, and a
        duplicated row half the time so bag semantics (UNION ALL /
        INTERSECT ALL / EXCEPT ALL / join multiplicity) get exercised."""
        r = self.rng
        rows = []
        for _ in range(n):
            cells = []
            for ty in sig:
                if r.random() < 0.1:
                    cells.append("NULL")
                elif ty == INT:
                    cells.append(str(r.randint(-5, 30)))
                else:
                    s = r.choice(["x", "y", "z''z", "ASIA", "EUROPE", ""])
                    cells.append(f"'{s}'")
            rows.append("(" + ", ".join(cells) + ")")
        if rows and r.random() < 0.5:
            rows.append(r.choice(rows))
        return ", ".join(rows)

    def _values(self):
        """VALUES inline relations (round-5 surface): standalone scan,
        aggregate over VALUES, join against a base table on a small int
        key, and a set-op branch — the same string is the oracle (DuckDB
        VALUES syntax is identical)."""
        r = self.rng
        roll = r.random()
        if roll < 0.35:
            # standalone (optionally aggregated)
            sig = r.choice([(INT,), (STR,), (INT, STR), (INT, INT)])
            names = [f"v{i}" for i in range(len(sig))]
            tbl = (
                f"(VALUES {self._values_rows(sig, r.randint(1, 5))}) "
                f"AS t({', '.join(names)})"
            )
            if sig[0] == INT and r.random() < 0.4:
                sql = (
                    f"SELECT count(*) AS c0, min(v0) AS c1, max(v0) AS c2 "
                    f"FROM {tbl}"
                )
                return sql, sql
            items = [f"{n} AS c{i}" for i, n in enumerate(names)]
            sql = f"SELECT {', '.join(items)} FROM {tbl}"
            ol, _ = self._order_limit(
                [f"c{i}" for i in range(len(names))], False
            )
            return sql + ol, sql + ol
        if roll < 0.75:
            # join a base table against the VALUES relation on a small
            # int key (region/nation keys are 0..24); duplicate VALUES
            # keys multiply matched rows identically in both engines
            t, key = r.choice(
                [("nation", "n_regionkey"), ("region", "r_regionkey"),
                 ("nation", "n_nationkey"), ("customer", "c_nationkey")]
            )
            rows = ", ".join(
                f"({r.randint(0, 8)}, '{r.choice(['a', 'b', 'c'])}')"
                for _ in range(r.randint(2, 5))
            )
            jt = r.choice(["JOIN", "LEFT JOIN"])
            strs = [c for c, ty in TABLES[t].items() if ty == STR]
            out = r.choice(strs)
            sql = (
                f"SELECT {out} AS c0, w AS c1 FROM {t} {jt} "
                f"(VALUES {rows}) AS t0(k, w) ON {key} = k"
            )
            if r.random() < 0.4:
                sql += f" WHERE {self._atom_pred([t])}"
            ol, _ = self._order_limit(["c0", "c1"], False)
            return sql + ol, sql + ol
        # set-op branch: VALUES vs a base-table projection
        t = r.choice(["region", "nation"])
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        c = r.choice(ints)
        op = r.choice(
            ["UNION", "UNION ALL", "INTERSECT", "EXCEPT",
             "INTERSECT ALL", "EXCEPT ALL"]
        )
        vals = self._values_rows((INT,), r.randint(2, 6))
        first_is_values = r.random() < 0.5
        b_tab = f"SELECT {c} AS c0 FROM {t}"
        b_val = f"SELECT v0 AS c0 FROM (VALUES {vals}) AS t0(v0)"
        sql = f"{b_val} {op} {b_tab}" if first_is_values else f"{b_tab} {op} {b_val}"
        return sql, sql

    def _recursive(self):
        """WITH RECURSIVE (r6 surface): arithmetic series (UNION ALL)
        and cyclic graph closures over nation (UNION) — DuckDB executes
        the identical SQL natively, so the oracle is free."""
        r = self.rng
        if r.random() < 0.55:
            start = r.randint(-3, 3)
            step = r.randint(1, 3)
            lim = r.randint(5, 40)
            cte = (
                f"with recursive seq(n) as ("
                f"select n from (values ({start})) as t0(n) "
                f"union all select n + {step} from seq where n < {lim})"
            )
            if r.random() < 0.4:
                sql = (
                    f"{cte} select r_name as c0, count(*) as c1 from seq "
                    f"join nation on n_nationkey = n "
                    f"join region on n_regionkey = r_regionkey "
                    f"group by r_name"
                )
            else:
                sql = (
                    f"{cte} select count(*) as c0, "
                    f"cast(sum(n) as bigint) as c1, min(n) as c2, "
                    f"max(n) as c3 from seq"
                )
            return sql, sql
        # cyclic closure: nations reachable following regionkey→nationkey
        seed = r.randint(0, 24)
        op = r.choice(["<", "="])
        sql = (
            f"with recursive r(k) as ("
            f"select n_nationkey as k from nation where n_nationkey {op} {seed} "
            f"union select n_nationkey as k from nation join r "
            f"on n_regionkey = k) "
            f"select count(*) as c0, cast(sum(k) as bigint) as c1 from r"
        )
        return sql, sql

    def _asof(self):
        """ASOF [LEFT] JOIN (r9; directions r10): DuckDB executes the
        identical grammar natively — including all four inequality
        operators (>= backward, > backward strict, <= forward,
        < forward strict) — so the oracle is free.  Determinism: the
        right side is unique per (keys, ts) by construction — keyless
        form uses the right table's PK as the timestamp; keyed form
        derives a GROUP BY subquery (one row per key)."""
        r = self.rng
        ineq = r.choice([">=", ">", "<=", "<"])
        if r.random() < 0.5:
            # keyed: left ASOF-joins a per-key aggregate of the right
            lt, lc, rt, rc = r.choice(JOIN_EDGES)
            lts_opts = [
                c for c, ty in TABLES[lt].items() if ty == INT and c != lc
            ]
            lts = r.choice(lts_opts or [lc])
            form = r.choice(["ASOF JOIN", "ASOF LEFT JOIN"])
            sub = (
                f"(SELECT {rc} AS k2, count(*) AS cnt, "
                f"max({PK[rt]}) AS rts FROM {rt} GROUP BY {rc})"
            )
            sql = (
                f"SELECT {lc} AS c0, {lts} AS c1, cnt AS c2 "
                f"FROM {lt} {form} {sub} "
                f"ON {lc} = k2 AND {lts} {ineq} rts"
            )
            return sql, sql
        # keyless: match the greatest right-PK at or below the left ts
        lt = r.choice([t for t in PK])
        rt = r.choice([t for t in PK if t != lt])
        lts = r.choice([c for c, ty in TABLES[lt].items() if ty == INT])
        rts = PK[rt]
        carried = r.choice(
            [c for c, ty in TABLES[rt].items() if c != rts and ty != FLT]
        )
        form = r.choice(["ASOF JOIN", "ASOF LEFT JOIN"])
        sql = (
            f"SELECT {PK[lt]} AS c0, {lts} AS c1, {carried} AS c2 "
            f"FROM {lt} {form} {rt} ON {lts} {ineq} {rts}"
        )
        return sql, sql

    def _overlap(self):
        """Interval OVERLAP join (r10): four distinct bound columns,
        ``s1 <=(<) e2 AND s2 <=(<) e1`` — exercises
        OverlapJoinFromConditionRule's lowering + the meet-at bucketing
        against DuckDB's plain theta-join.  Small tables only (the
        all-overlap worst case is |lt|·|rt| output rows)."""
        r = self.rng
        small = [t for t in ("region", "nation", "supplier", "events")]
        lt = r.choice(small)
        rt = r.choice([t for t in small if t != lt])
        ls = r.choice([c for c, ty in TABLES[lt].items() if ty == INT])
        rs = r.choice([c for c, ty in TABLES[rt].items() if ty == INT])
        w1, w2 = r.choice([10, 40, 100]), r.choice([10, 40, 100])
        o1, o2 = r.choice(["<=", "<"]), r.choice(["<=", "<"])
        sql = (
            f"SELECT k1 AS c0, k2 AS c1 FROM "
            f"(SELECT {PK[lt]} AS k1, {ls} AS s1, {ls} + {w1} AS e1 "
            f"FROM {lt}) JOIN "
            f"(SELECT {PK[rt]} AS k2, {rs} AS s2, {rs} + {w2} AS e2 "
            f"FROM {rt}) "
            f"ON s1 {o1} e2 AND s2 {o2} e1"
        )
        return sql, sql

    def _named_window(self):
        """Named WINDOW clause (r10): one spec, 1-2 OVER w refs, optional
        QUALIFY ref — IDENTICAL SQL on both engines (DuckDB supports the
        clause natively).  Determinism per the _window rules: row_number
        and running sums order by the unique pk."""
        r = self.rng
        t = r.choice(list(PK))
        pk = PK[t]
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        part = r.choice(strs) if strs and r.random() < 0.7 else None
        spec = (f"PARTITION BY {part} " if part else "") + (
            f"ORDER BY {pk} {r.choice(['ASC', 'DESC'])}"
        )
        items = [f"{pk} AS c0"] + ([f"{part} AS c1"] if part else [])
        names = ["c0"] + (["c1"] if part else [])
        sel = ["row_number() OVER w AS w0"]
        names.append("w0")
        if r.random() < 0.5:
            sc = r.choice(ints)
            sel.append(f"sum({sc}) OVER w AS w1")
            names.append("w1")
        where = f" WHERE {self._pred([t])}" if r.random() < 0.5 else ""
        qual = (
            f" QUALIFY row_number() OVER w <= {r.randint(1, 5)}"
            if r.random() < 0.4
            else ""
        )
        sql = (
            f"SELECT {', '.join(items + sel)} FROM {t}{where} "
            f"WINDOW w AS ({spec}){qual}"
        )
        ol, _ = self._order_limit(names, False)
        return sql + ol, sql + ol

    def _unpivot(self):
        """UNPIVOT (r10) vs the independent UNION-ALL oracle formulation.
        Integer value columns only (shared type, no float compare)."""
        r = self.rng
        t = r.choice(list(PK))
        pk = PK[t]
        ints = [c for c, ty in TABLES[t].items() if ty == INT and c != pk]
        if len(ints) < 2:
            return self._simple()
        a, b = r.sample(ints, 2)
        where = f" WHERE {self._pred([t])}" if r.random() < 0.5 else ""
        inner = f"SELECT {pk}, {a}, {b} FROM {t}{where}"
        sql = (
            f"SELECT {pk} AS c0, nm AS c1, vl AS c2 FROM ({inner}) "
            f"UNPIVOT (vl FOR nm IN ({a}, {b}))"
        )
        osql = (
            f"SELECT {pk} AS c0, nm AS c1, vl AS c2 FROM ("
            f"SELECT {pk}, '{a}' AS nm, {a} AS vl FROM {t}{where} "
            f"UNION ALL SELECT {pk}, '{b}', {b} FROM {t}{where})"
        )
        ol, _ = self._order_limit(["c0", "c1", "c2"], False)
        return sql + ol, osql + ol

    def _pivot(self):
        """PIVOT (r10) vs the independent CASE-aggregate oracle.  The
        inner projection fixes the implicit group key to one column."""
        r = self.rng
        cands = [
            t
            for t in TABLES
            if any(ty == STR for ty in TABLES[t].values())
            and sum(ty == INT for ty in TABLES[t].values()) >= 2
        ]
        t = r.choice(cands)
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        s = r.choice(strs)
        vals = [v for v in self.pools[(t, s)] if v]
        if len(vals) < 2:
            return self._agg()
        k = r.choice(ints)
        v = r.choice([c for c in ints if c != k])
        p0, p1 = r.sample(vals, 2)
        q0 = p0.replace("'", "''")
        q1 = p1.replace("'", "''")
        agg = r.choice(["count", "sum", "min", "max"])
        where = f" WHERE {self._pred([t])}" if r.random() < 0.5 else ""
        inner = f"SELECT {k}, {s}, {v} FROM {t}{where}"
        sql = (
            f"SELECT {k} AS c0, a0 AS c1, a1 AS c2 FROM ({inner}) "
            f"PIVOT ({agg}({v}) FOR {s} IN ('{q0}' AS a0, '{q1}' AS a1))"
        )
        osql = (
            f"SELECT {k} AS c0, "
            f"{agg}(CASE WHEN {s} = '{q0}' THEN {v} END) AS c1, "
            f"{agg}(CASE WHEN {s} = '{q1}' THEN {v} END) AS c2 "
            f"FROM {t}{where} GROUP BY {k}"
        )
        return sql, osql

    def _distinct_on(self):
        """DISTINCT ON (r10): first row per key by ORDER BY — the pk
        tie-break makes the kept row unique, so both engines agree
        row-for-row.  Same SQL on both (DuckDB supports DISTINCT ON)."""
        r = self.rng
        t = r.choice(list(PK))
        pk = PK[t]
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        ints = [c for c, ty in TABLES[t].items() if ty == INT and c != pk]
        if not strs:
            return self._simple()
        k = r.choice(strs)
        v = r.choice(ints) if ints and r.random() < 0.7 else pk
        where = f" WHERE {self._pred([t])}" if r.random() < 0.5 else ""
        d = r.choice(["ASC", "DESC"])
        sql = (
            f"SELECT DISTINCT ON ({k}) {k}, {v}, {pk} FROM {t}{where} "
            f"ORDER BY {k}, {v} {d}, {pk}"
        )
        return sql, sql

    def _star_mod(self):
        """Star EXCLUDE/REPLACE (r10) — same SQL on both engines; only
        float-free survivors so ordered LIMIT compares exactly."""
        r = self.rng
        t = r.choice(list(PK))
        pk = PK[t]
        cols = list(TABLES[t])
        flt = [c for c, ty in TABLES[t].items() if ty == FLT]
        drop = set(flt)
        extra = [c for c in cols if c not in drop and c != pk]
        r.shuffle(extra)
        drop.update(extra[: r.randint(0, max(0, len(extra) - 1))])
        keep = [c for c in cols if c not in drop]
        rep = ""
        if r.random() < 0.5:
            rc = r.choice([c for c in keep if c != pk] or [pk])
            expr = (
                f"{rc} + 1"
                if TABLES[t][rc] == INT
                else f"upper({rc})"
            )
            rep = f" REPLACE ({expr} AS {rc})"
        excl = f" EXCLUDE ({', '.join(sorted(drop))})" if drop else ""
        if not excl and not rep:
            rep = f" REPLACE ({pk} + 1 AS {pk})"
        sql = (
            f"SELECT *{excl}{rep} FROM {t} "
            f"ORDER BY {pk} LIMIT {r.randint(5, 40)}"
        )
        return sql, sql

    def _group_all(self):
        """GROUP BY ALL (+ optional ORDER BY ALL LIMIT, r10) — same SQL
        on both engines."""
        r = self.rng
        t = r.choice(list(TABLES))
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        if not strs or not ints:
            return self._agg()
        ks = r.sample(strs, min(len(strs), r.randint(1, 2)))
        ic = r.choice(ints)
        agg = r.choice(
            ["count(*)", f"sum({ic})", f"min({ic})", f"max({ic})",
             f"count(distinct {ic})"]
        )
        where = f" WHERE {self._pred([t])}" if r.random() < 0.5 else ""
        sql = (
            f"SELECT {', '.join(ks)}, {agg} AS a0 FROM {t}{where} "
            f"GROUP BY ALL"
        )
        if r.random() < 0.6:
            sql += f" ORDER BY ALL LIMIT {r.randint(1, 30)}"
        return sql, sql

    def _filter_agg(self):
        """Aggregate FILTER (WHERE ...) clause (r10) — same SQL on both
        engines; filtered counts/sums over int columns only."""
        r = self.rng
        t = r.choice(list(TABLES))
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        if not strs or not ints:
            return self._agg()
        k = r.choice(strs)
        ic = r.choice(ints)
        preds = [self._atom_pred([t]) for _ in range(2)]
        inner = r.choice(["count(*)", f"sum({ic})", f"min({ic})", f"max({ic})"])
        items = [
            f"count(*) FILTER (WHERE {preds[0]}) AS a0",
            f"coalesce({inner} FILTER (WHERE {preds[1]}), -1) AS a1",
            "count(*) AS a2",
        ]
        where = f" WHERE {self._pred([t])}" if r.random() < 0.4 else ""
        sql = f"SELECT {k} AS c0, {', '.join(items)} FROM {t}{where} GROUP BY {k}"
        return sql, sql

    def _lateral(self):
        """LATERAL derived tables (r11) — the same string runs on DuckDB
        natively.  Four sub-shapes over a random join edge: top-N-per-
        group (pk tie-break keeps the kept set deterministic), global
        aggregate (count-over-empty = 0, LEFT lowering), grouped
        aggregate (empty group drops the outer row), and LEFT JOIN
        LATERAL ON TRUE with a selective inner predicate."""
        r = self.rng
        inner_t, inner_k, outer_t, outer_k = r.choice(JOIN_EDGES)
        if inner_t not in PK:
            return self._simple()
        opk = PK[outer_t]
        ipk = PK[inner_t]
        ints = [
            c for c, ty in TABLES[inner_t].items() if ty == INT and c != ipk
        ]
        strs = [c for c, ty in TABLES[inner_t].items() if ty == STR]
        where = f" WHERE {self._atom_pred([outer_t])}" if r.random() < 0.4 else ""
        roll = r.random()
        if roll < 0.35:
            # top-N per group; ORDER BY (int col, pk) is a total order
            oc = r.choice(ints) if ints else ipk
            d = r.choice(["ASC", "DESC"])
            n = r.randint(1, 3)
            off = " OFFSET 1" if r.random() < 0.3 else ""
            ipred = (
                f" AND {self._atom_pred([inner_t])}" if r.random() < 0.4 else ""
            )
            if r.random() < 0.3:
                # r12: DISTINCT + LIMIT inside LATERAL — dedup below
                # the join, then the per-key ranking (sort keys bind to
                # the DISTINCT output; (x, y) is total, deterministic)
                sql = (
                    f"SELECT {opk} AS c0, t.x AS c1, t.y AS c2 "
                    f"FROM {outer_t}, "
                    f"LATERAL (SELECT DISTINCT {ipk} AS x, {oc} AS y "
                    f"FROM {inner_t} "
                    f"WHERE {inner_k} = {outer_k}{ipred} "
                    f"ORDER BY y {d}, x LIMIT {n}{off}) t{where}"
                )
                return sql, sql
            sql = (
                f"SELECT {opk} AS c0, t.x AS c1, t.y AS c2 FROM {outer_t}, "
                f"LATERAL (SELECT {ipk} AS x, {oc} AS y FROM {inner_t} "
                f"WHERE {inner_k} = {outer_k}{ipred} "
                f"ORDER BY {oc} {d}, {ipk} LIMIT {n}{off}) t{where}"
            )
            return sql, sql
        if roll < 0.6:
            # global aggregate: every outer row survives; count-over-
            # empty is 0 on both engines (ours via the LEFT+coalesce
            # lowering, DuckDB natively)
            agg2 = (
                f"{r.choice(['min', 'max'])}({r.choice(ints)})"
                if ints
                else f"count({ipk})"
            )
            ipred = (
                f" AND {self._atom_pred([inner_t])}" if r.random() < 0.5 else ""
            )
            sql = (
                f"SELECT {opk} AS c0, s.a0 AS c1, s.a1 AS c2 FROM {outer_t}, "
                f"LATERAL (SELECT count(*) AS a0, {agg2} AS a1 "
                f"FROM {inner_t} WHERE {inner_k} = {outer_k}{ipred}) s{where}"
            )
            return sql, sql
        if roll < 0.8 and strs:
            # grouped aggregate: empty groups yield zero rows (INNER)
            g = r.choice(strs)
            sql = (
                f"SELECT {opk} AS c0, s.g AS c1, s.n AS c2 FROM {outer_t}, "
                f"LATERAL (SELECT {g} AS g, count(*) AS n FROM {inner_t} "
                f"WHERE {inner_k} = {outer_k} GROUP BY {g}) s{where}"
            )
            return sql, sql
        if roll < 0.9 and strs and ints:
            # r13: DISTINCT whose correlated inequality references a
            # NON-OUTPUT inner column — the post-join dedup lowering
            # (dedup over outer rowid + visible outputs)
            g = r.choice(strs)
            ic = r.choice(ints)
            o_ints = [
                c for c, ty in TABLES[outer_t].items() if ty == INT
            ]
            ok2 = r.choice(o_ints) if o_ints else outer_k
            sql = (
                f"SELECT {opk} AS c0, t.s AS c1 FROM {outer_t}, "
                f"LATERAL (SELECT DISTINCT {g} AS s FROM {inner_t} "
                f"WHERE {inner_k} = {outer_k} "
                f"AND {ic} > {ok2} % 50) t{where}"
            )
            return sql, sql
        # LEFT JOIN LATERAL ON TRUE — unmatched outer rows keep NULLs
        oc = r.choice(ints) if ints else ipk
        sql = (
            f"SELECT {opk} AS c0, t.x AS c1 FROM {outer_t} "
            f"LEFT JOIN LATERAL (SELECT {ipk} AS x FROM {inner_t} "
            f"WHERE {inner_k} = {outer_k} AND {self._atom_pred([inner_t])} "
            f"ORDER BY {oc} DESC, {ipk} LIMIT {r.randint(1, 2)}) t "
            f"ON TRUE{where}"
        )
        return sql, sql

    def _idioms13(self):
        """r13 idioms — TRY_CAST (NULL on failure), WITHIN GROUP
        percentiles (cents-cast keeps the interpolated doubles
        hash-stable: TPC-H money columns are 2-decimal, so quantile
        boundaries sit half-cents away from integer edges), and the
        standard FETCH FIRST spelling."""
        r = self.rng
        t = r.choice(list(PK))
        pk = PK[t]
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        flts = [c for c, ty in TABLES[t].items() if ty == FLT]
        roll = r.random()
        if roll < 0.35 and strs:
            sc = r.choice(strs)
            sql = (
                f"SELECT count(TRY_CAST({sc} AS int)) AS c0, "
                f"count(TRY_CAST({pk} AS varchar)) AS c1, "
                f"count(TRY_CAST(substring({sc}, {r.randint(1, 12)}) "
                f"AS bigint)) AS c2 FROM {t}"
            )
            return sql, sql
        if roll < 0.7 and (flts or ints):
            xc = r.choice(flts or ints)
            p = r.choice([0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0])
            d = r.choice(["ASC", "DESC"])
            cont = (
                f"cast(floor(percentile_cont({p}) WITHIN GROUP "
                f"(ORDER BY {xc} {d}) * 100) AS bigint)"
            )
            disc = (
                f"cast(floor(percentile_disc({p}) WITHIN GROUP "
                f"(ORDER BY {xc} {d}) * 100) AS bigint)"
            )
            if strs and r.random() < 0.6:
                g = r.choice(strs)
                sql = (
                    f"SELECT {g} AS c0, {cont} AS c1, {disc} AS c2 "
                    f"FROM {t} GROUP BY {g}"
                )
            else:
                sql = f"SELECT {cont} AS c0, {disc} AS c1 FROM {t}"
            return sql, sql
        n, off = r.randint(1, 6), r.randint(0, 4)
        d = r.choice(["ASC", "DESC"])
        sql = (
            f"SELECT {pk} AS c0 FROM {t} ORDER BY {pk} {d} "
            f"OFFSET {off} ROWS FETCH FIRST {n} ROWS ONLY"
        )
        return sql, sql

    def _grouping_sets(self):
        """GROUP BY GROUPING SETS with 2-3 random set lists (r11 —
        VERDICT r10 item 2's fuzz shape).  Same empty-input caveat as
        _rollup: the oracle pins Spark's no-rows-over-empty behavior
        with HAVING count(*) > 0."""
        r = self.rng
        t = r.choice(list(TABLES))
        strs = [c for c, ty in TABLES[t].items() if ty == STR]
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        if len(strs) < 2 or not ints:
            return self._rollup()
        keys = r.sample(strs, 2)
        ic = r.choice(ints)
        all_sets = ["()", f"({keys[0]})", f"({keys[1]})",
                    f"({keys[0]}, {keys[1]})"]
        sets = r.sample(all_sets, r.randint(2, 3))
        # every SELECTED key must appear in >=1 chosen set — both
        # engines reject uncovered plain columns (found by the r11
        # fresh-seed hunt: the unconstrained sample generated them).
        # >=2 distinct samples from all_sets always cover >=1 key, so
        # the filtered list is never empty.
        keys = [k for k in keys if any(k in s_ for s_ in sets)]
        items = [f"{k} AS k{i}" for i, k in enumerate(keys)] + [
            "count(*) AS a0",
            f"sum({ic}) AS a1",
            f"{r.choice(['min', 'max'])}({ic}) AS a2",
        ]
        where = f" WHERE {self._pred([t])}" if r.random() < 0.5 else ""
        sql = (
            f"SELECT {', '.join(items)} FROM {t}{where} "
            f"GROUP BY GROUPING SETS ({', '.join(sets)})"
        )
        return sql, sql + " HAVING count(*) > 0"

    def _date_arith(self):
        """DATE/INTERVAL arithmetic (r11) — the same string runs on
        DuckDB.  Dates stay in PREDICATES (timestamp-typed outputs are
        excluded from the generator by design); outputs are integer
        aggregates.  Random base date ± random interval in day/week/
        month/year units over the two date-bearing fact tables."""
        r = self.rng
        t, dcol = r.choice(
            [("orders", "o_orderdate"), ("lineitem", "l_shipdate")]
        )
        y = r.randint(1993, 1997)
        mo = r.randint(1, 12)
        d = r.randint(1, 28)
        base = f"DATE '{y:04d}-{mo:02d}-{d:02d}'"
        unit = r.choice(["day", "week", "month", "year"])
        n = {"day": r.randint(1, 400), "week": r.randint(1, 60),
             "month": r.randint(1, 18), "year": r.randint(1, 3)}[unit]
        quoted = f"'{n}'" if r.random() < 0.5 else str(n)
        sign = r.choice(["+", "-"])
        bound = f"{base} {sign} INTERVAL {quoted} {unit}"
        if r.random() < 0.3:
            # r12: compound INTERVAL ± INTERVAL merges into one
            # (months, days, seconds) triple — DuckDB-identical
            unit2 = r.choice(["day", "week", "month", "hour"])
            n2 = r.randint(1, 30)
            sign2 = r.choice(["+", "-"])
            bound = (
                f"{base} {sign} (INTERVAL {quoted} {unit} "
                f"{sign2} INTERVAL {n2} {unit2})"
            )
        ints = [c for c, ty in TABLES[t].items() if ty == INT]
        ic = r.choice(ints)
        op = r.choice(["<", "<=", ">", ">="])
        pred = f"{dcol} {op} {bound}"
        if r.random() < 0.4:
            lo = f"DATE '{y:04d}-01-01'"
            pred = (
                f"{dcol} >= {lo} AND {dcol} < {lo} + "
                f"INTERVAL {r.randint(1, 9)} month"
            )
        sql = (
            f"SELECT count(*) AS c0, min({ic}) AS c1, max({ic}) AS c2, "
            f"sum({ic}) AS c3 FROM {t} WHERE {pred}"
        )
        return sql, sql

    def _idioms(self):
        """r11 dialect idioms — same string on both engines: simple
        CASE, EXTRACT, ::casts, SUBSTRING FROM/FOR, POSITION, ILIKE,
        IS [NOT] DISTINCT FROM, JOIN USING, expression group keys with
        string-literal args."""
        r = self.rng
        roll = r.random()
        if roll < 0.25:
            t = r.choice(list(TABLES))
            strs = [c for c, ty in TABLES[t].items() if ty == STR]
            ints = [c for c, ty in TABLES[t].items() if ty == INT]
            if not strs or not ints:
                return self._simple()
            sc, ic = r.choice(strs), r.choice(ints)
            vals = self.pools[(t, sc)][:3]
            whens = " ".join(
                f"WHEN '{v}' THEN {i}" for i, v in enumerate(vals)
            )
            sql = (
                f"SELECT CASE {sc} {whens} ELSE -1 END AS c0, "
                f"count(*) AS c1, sum({ic}::bigint) AS c2 "
                f"FROM {t} GROUP BY CASE {sc} {whens} ELSE -1 END"
            )
            return sql, sql
        if roll < 0.45:
            t, dcol = r.choice(
                [("orders", "o_orderdate"), ("lineitem", "l_shipdate")]
            )
            unit = r.choice(["year", "month", "quarter", "day"])
            sql = (
                f"SELECT EXTRACT({unit} FROM {dcol}) AS c0, "
                f"count(*) AS c1 FROM {t} GROUP BY c0"
            )
            return sql, sql
        if roll < 0.65:
            t = r.choice(list(TABLES))
            strs = [c for c, ty in TABLES[t].items() if ty == STR]
            if not strs:
                return self._simple()
            sc = r.choice(strs)
            val = r.choice(self.pools[(t, sc)])
            frag = val[: max(1, len(val) // 2)].replace("'", "''")
            mixed = "".join(
                ch.upper() if i % 2 else ch.lower()
                for i, ch in enumerate(frag)
            )
            neg = r.choice(["", "NOT "])
            sql = (
                f"SELECT count(*) AS c0, "
                f"count(*) FILTER (WHERE {sc} IS DISTINCT FROM '{val}')"
                f" AS c1, "
                f"sum(CASE WHEN substring({sc} FROM 1 FOR 2) = "
                f"substring('{val}' FROM 1 FOR 2) THEN 1 ELSE 0 END)"
                f" AS c2 "
                f"FROM {t} WHERE {sc} {neg}ILIKE '%{mixed}%' "
                f"OR position('{frag}' IN {sc}) > 0"
            )
            return sql, sql
        # JOIN USING over a renamed derived side
        inner_t, inner_k, outer_t, outer_k = r.choice(JOIN_EDGES)
        ints = [c for c, ty in TABLES[inner_t].items() if ty == INT]
        ic = r.choice(ints)
        # r12: all four join types — RIGHT/FULL exercise the
        # COALESCE(left, right) output rule for the USING column
        jt = r.choice(["JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN"])
        filt = f" WHERE {self._atom_pred([outer_t])}" if r.random() < 0.5 else ""
        sql = (
            f"SELECT count(*) AS c0, sum(u) AS c1, count(uk) AS c2 FROM "
            f"(SELECT {outer_k} AS uk FROM {outer_t}{filt}) a {jt} "
            f"(SELECT {inner_k} AS uk, {ic}::bigint AS u "
            f" FROM {inner_t}) b USING (uk)"
        )
        return sql, sql

    def _tablesample(self):
        """r12: deterministic TABLESAMPLE — the oracle replays the
        md5-priority rule explicitly (engine-native sampling is
        seed/layout-dependent; ours is a pure function of the data)."""
        r = self.rng
        t = r.choice(list(TABLES))
        key = next(iter(TABLES[t]))  # leading column is the key
        items, names, has_float = [], [], False
        for i in range(r.randint(1, 3)):
            e, ty = self._value_expr([t])
            items.append(f"{e} AS c{i}")
            names.append(f"c{i}")
            has_float = has_float or ty == FLT
        h = f"('0x' || substr(md5({key}::VARCHAR), 1, 15))::BIGINT"
        if r.random() < 0.5:
            n = r.randint(1, 40)
            sql = f"SELECT {', '.join(items)} FROM {t} TABLESAMPLE ({n} ROWS)"
            osql = (
                f"SELECT {', '.join(items)} FROM "
                f"(SELECT * FROM {t} ORDER BY {h}, {key} LIMIT {n}) {t}"
            )
        else:
            pct = r.randint(0, 100)
            sql = (
                f"SELECT {', '.join(items)} FROM {t} "
                f"TABLESAMPLE ({pct} PERCENT)"
            )
            osql = (
                f"SELECT {', '.join(items)} FROM "
                f"(SELECT * FROM {t} WHERE {h} % 100 < {pct}) {t}"
            )
        ol, _ = self._order_limit(names, has_float)
        return sql + ol, osql + ol

    SHAPES = (
        ("_simple", 14),
        ("_join", 18),
        ("_comma_join", 10),
        ("_agg", 20),
        ("_setop", 10),
        ("_in_subquery", 10),
        ("_scalar_subquery", 8),
        ("_exists", 8),
        ("_derived", 8),
        ("_cte", 8),
        ("_window", 12),
        ("_qualify", 8),
        ("_select_scalar", 8),
        ("_window_over_agg", 8),
        ("_self_join", 10),
        ("_rollup", 8),
        ("_values", 10),
        ("_recursive", 6),
        ("_asof", 8),
        ("_overlap", 6),
        ("_named_window", 6),
        ("_pivot", 6),
        ("_unpivot", 6),
        ("_distinct_on", 6),
        ("_star_mod", 6),
        ("_group_all", 6),
        ("_filter_agg", 6),
        ("_lateral", 8),
        ("_grouping_sets", 6),
        ("_date_arith", 6),
        ("_idioms", 8),
        ("_idioms13", 6),
        ("_in_or", 8),
        ("_tablesample", 6),
        ("_any_all", 6),
    )

    def query(self):
        total = sum(w for _, w in self.SHAPES)
        roll = self.rng.randrange(total)
        for name, w in self.SHAPES:
            roll -= w
            if roll < 0:
                return getattr(self, name)()
        return self._simple()


# ---------------------------------------------------------------------------
# the fuzz loop — 6 chunks x 60 queries = 360, seed-pinned
# ---------------------------------------------------------------------------

# r6: 6 → 8 chunks (+120 queries) with the _values shape; r7 adds the
# _comma_join shape (DP join enumeration under fuzz) and moves the seed
# so ALL shapes resample — the old pins stay reproducible from their
# trees.  r10 added _named_window/_pivot/_unpivot; r11 added
# _lateral/_grouping_sets/_date_arith/_idioms; r12 (this session) adds
# _in_or (membership tests under OR/NOT) and moves the seed again:
# these 480 are the current pin.
N_CHUNKS = 8
PER_CHUNK = 60
SEED = 20260912


@pytest.mark.parametrize("chunk", range(N_CHUNKS))
def test_sql_fuzz_vs_duckdb(chunk, spark, catalog, ddb, pools):
    from datafusion_dolomite_spark import QueryPlanner

    qp = QueryPlanner(spark, catalog)
    rng = random.Random(SEED + chunk)
    gen = Gen(rng, pools)
    for i in range(PER_CHUNK):
        sql, osql = gen.query()
        try:
            got = [tuple(r) for r in qp.sql(sql).collect()]
        except Exception as ex:  # noqa: BLE001 — show the query
            raise AssertionError(
                f"engine failed [chunk {chunk} q{i}]\n{sql}\n--> {ex!r}"
            ) from ex
        try:
            want = ddb.execute(osql).fetchall()
        except Exception as ex:  # noqa: BLE001
            raise AssertionError(
                f"oracle failed [chunk {chunk} q{i}]\n{osql}\n--> {ex!r}"
            ) from ex
        assert rows_match(got, want), (
            f"MISMATCH [chunk {chunk} q{i}] spark={len(got)} duck={len(want)}\n"
            f"-- engine SQL:\n{sql}\n-- oracle SQL:\n{osql}\n"
            f"spark sample: {sorted(got, key=_sort_key)[:5]}\n"
            f"duck  sample: {sorted(want, key=_sort_key)[:5]}"
        )
