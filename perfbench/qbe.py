"""Seeded QBE sessions: chains of Warp steps and the DuckDB SQL for each.

A session is a sequence of blocks.  Each block starts a new chain on
``lineitem`` and grows it one edit at a time (calculate, filter, a
calculate "by example", join ``orders``, join ``customer``, try an
aggregate or a pivot and keep the other, sort + limit), the way a Warp
user builds a chain on a preview.  After each edit the caller previews
the chain; after the last edit of a block it runs the chain on the full
data.  Every chain carries the DuckDB SQL that computes the same rows,
so full runs can be checked.

A by-example edit hands a preview row and a target value to the caller's
``suggest`` (``infer.suggest_formulas``) and keeps the first suggestion
this module can translate to SQL (``sql_of``); the literal suggestion
always qualifies.
"""

from __future__ import annotations

import random

from warp_spark.formula import Binary, Call, Literal, Sibling, parse

PREVIEW_ROWS = (500, 1000, 2000, 4000)
GROUP_KEYS = ("l_returnflag", "l_linestatus", "o_orderstatus", "o_orderpriority", "c_mktsegment")
PIVOT_ROWS = ("c_mktsegment", "o_orderpriority", "o_orderstatus")
EXAMPLE_INPUTS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax",
                  "l_returnflag", "l_linestatus")


class Chain:
    """A chain under edit: Warp step dicts plus the equivalent SQL."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.steps = [{"kind": "source", "path": f"{data_dir}/lineitem.parquet"}]
        self.sql = "SELECT * FROM lineitem"
        self.formulas: list[str] = []
        self._undo: list[str] = []

    def add(self, step: dict, sql: str, formulas=()) -> None:
        self.steps.append(step)
        self._undo.append(self.sql)
        self.sql = sql.format(prev=f"({self.sql}) AS t")
        self.formulas = list(formulas)

    def undo(self) -> None:
        self.steps.pop()
        self.sql = self._undo.pop()


def _source(data_dir: str, table: str) -> list[dict]:
    return [{"kind": "source", "path": f"{data_dir}/{table}.parquet"}]


# Each plain edit is (warp formula, sql) built from a seeded parameter.
def _calculate(rng: random.Random):
    return rng.choice([
        ("revenue", "=[l_extendedprice] * (1 - [l_discount])", "l_extendedprice * (1 - l_discount)"),
        ("revenue", "=[l_extendedprice] * (1 - [l_discount]) * (1 + [l_tax])",
         "l_extendedprice * (1 - l_discount) * (1 + l_tax)"),
        ("revenue", "=[l_quantity] * 100 - [l_discount] * 1000", "l_quantity * 100 - l_discount * 1000"),
    ])


# Filters keep between about 45 % and 65 % of the rows, so the cost of a
# block varies little from seed to seed.
def _filter(rng: random.Random):
    q = rng.randint(22, 28)
    d = rng.randint(4, 6) / 100.0
    return rng.choice([
        (f"=[l_quantity] > {q}", f"l_quantity > {q}"),
        (f"=[l_discount] >= {d}", f"l_discount >= {d}"),
    ])


class Session:
    """Seeded edit stream.  Each ``block()`` call returns the next block: a
    list of edits, each a dict with ``kind``, a function
    ``apply(chain, preview_row, suggest)`` that performs it, and ``rows``
    (the preview size).

    Every block has the same shape: calculate, filter, by-example
    calculate, two joins, then the user tries one summary step, undoes
    it and keeps the other (aggregate and pivot take turns being kept),
    then sort + limit.  The seed picks formulas, keys and constants.
    Preview sizes rotate through ``PREVIEW_ROWS`` from a seeded offset, so
    each block previews at every size twice and every four blocks each
    edit has seen every size."""

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.offset = self.rng.randrange(len(PREVIEW_ROWS))
        self.n_blocks = 0

    def block(self) -> list[dict]:
        rng, d = self.rng, self.data_dir
        name, calc, calc_sql = _calculate(rng)
        cond, cond_sql = _filter(rng)
        example = rng.choice(("double", "plus_tax", "net"))
        gkey, pkey = rng.choice(GROUP_KEYS), rng.choice(PIVOT_ROWS)
        limit = rng.randint(3, 10)
        k = self.offset + self.n_blocks
        sizes = [PREVIEW_ROWS[(i + k) % len(PREVIEW_ROWS)] for i in range(8)]

        def aggregate(ch):
            ch.add({"kind": "aggregate", "groups": {f"g_{gkey}": f"=[{gkey}]"},
                    "values": {"n": {"map": "l_quantity", "reduce": "countAll"},
                               "total": {"map": f"=[{name}]", "reduce": "sum"},
                               "avg_ex": {"map": "ex", "reduce": "average"}}},
                   f"SELECT {gkey} AS g_{gkey}, COUNT(*) AS n, "
                   f"COALESCE(SUM({name}), 0.0) AS total, AVG(ex) AS avg_ex "
                   f"FROM {{prev}} GROUP BY {gkey}", [f"=[{gkey}]", f"=[{name}]"])
            return f"g_{gkey}"

        def pivot(ch):
            flags = ["A", "N", "R"]
            cols = ", ".join(
                f"COALESCE(SUM(CASE WHEN l_returnflag = '{f}' THEN ex END), 0.0) AS {f}_total"
                for f in flags)
            ch.add({"kind": "pivot", "horizontal": "l_returnflag", "vertical": [pkey],
                    "values": {"total": {"map": "=[ex]", "reduce": "sum"}},
                    "horizontal_values": flags},
                   f"SELECT {pkey}, {cols} FROM {{prev}} GROUP BY {pkey}", ["=[ex]"])
            return pkey

        tried, kept = (pivot, aggregate) if self.n_blocks % 2 == 0 else (aggregate, pivot)
        self.n_blocks += 1
        key = []

        def keep(ch):
            ch.undo()
            key.append(kept(ch))

        def sort_limit(ch):
            ch.add({"kind": "sort", "orders": [
                {"expression": key[0], "ascending": True, "numeric": False}]},
                f"SELECT * FROM {{prev}} ORDER BY {key[0]}")
            ch.add({"kind": "limit", "n": limit},
                   f"SELECT * FROM {{prev}} ORDER BY {key[0]} LIMIT {limit}")

        steps = [
            ("calculate", lambda ch, row, suggest: ch.add(
                {"kind": "calculate", "calculations": {name: calc}},
                f"SELECT *, {calc_sql} AS {name} FROM {{prev}}", [calc])),
            ("filter", lambda ch, row, suggest: ch.add(
                {"kind": "filter", "condition": cond},
                f"SELECT * FROM {{prev}} WHERE {cond_sql}", [cond])),
            ("by_example", lambda ch, row, suggest: by_example(ch, example, row, suggest)),
            ("join", lambda ch, row, suggest: ch.add(
                {"kind": "join", "chain": _source(d, "orders"), "on": "l_orderkey = o_orderkey"},
                "SELECT * FROM {prev} JOIN orders ON l_orderkey = o_orderkey")),
            ("join", lambda ch, row, suggest: ch.add(
                {"kind": "join", "chain": _source(d, "customer"), "on": "o_custkey = c_custkey"},
                "SELECT * FROM {prev} JOIN customer ON o_custkey = c_custkey")),
            (tried.__name__, lambda ch, row, suggest: tried(ch)),
            (kept.__name__, lambda ch, row, suggest: keep(ch)),
            ("sort_limit", lambda ch, row, suggest: sort_limit(ch)),
        ]
        return [{"kind": k, "apply": f, "rows": n} for (k, f), n in zip(steps, sizes)]


def example_target(kind: str, row: dict):
    """The value a user types into the new column for this preview row,
    and the column they typed it next to."""
    if kind == "double":
        return row["l_quantity"] * 2, "l_quantity"
    if kind == "plus_tax":
        return row["l_extendedprice"] + row["l_tax"], "l_extendedprice"
    return row["l_extendedprice"] - row["l_discount"], "l_extendedprice"


_SQL_BINARY = {"+": "+", "-": "-", "*": "*", "/": "/"}
# Only functions whose DuckDB form takes the same argument types: Warp's
# LENGTH of a number measures its text form, which DuckDB's length()
# refuses, so such suggestions are skipped for the next one.
_SQL_CALL = {"abs": "abs"}


def sql_of(text: str) -> str | None:
    """DuckDB SQL for a suggested formula, or None if it uses a construct
    this translator does not cover."""

    def rec(n):
        if isinstance(n, Sibling):
            return n.name
        if isinstance(n, Literal):
            v = n.value
            if isinstance(v, bool) or v is None:
                return None
            if isinstance(v, (int, float)):
                return f"CAST({float(v)!r} AS DOUBLE)"
            return "'" + str(v).replace("'", "''") + "'"
        if isinstance(n, Binary) and n.op in _SQL_BINARY:
            a, b = rec(n.left), rec(n.right)
            return None if a is None or b is None else f"({a} {_SQL_BINARY[n.op]} {b})"
        if isinstance(n, Call) and n.function in _SQL_CALL and len(n.args) == 1:
            a = rec(n.args[0])
            return None if a is None else f"{_SQL_CALL[n.function]}({a})"
        return None

    try:
        return rec(parse(text))
    except Exception:
        return None


def by_example(chain: Chain, kind: str, row: dict, suggest) -> None:
    """Add the by-example column ``ex``: ask ``suggest`` for formulas that
    turn ``row`` into the target, keep the first one with a SQL form."""
    target, column = example_target(kind, row)
    probe = {c: row[c] for c in EXAMPLE_INPUTS}
    for text in suggest(target, probe, column):
        sql = sql_of(text)
        if sql is not None:
            chain.add({"kind": "calculate", "calculations": {"ex": f"={text}"}},
                      f"SELECT *, {sql} AS ex FROM {{prev}}", [f"={text}"])
            return
    raise ValueError(f"no translatable suggestion for {target!r}")
