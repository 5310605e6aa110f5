"""DuckDB oracle: expected answers on the same parquet inputs, an
order-insensitive comparator with a float tolerance, and the DuckDB model
table that replays the Delta operation log."""
import datetime
import decimal
import math

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-9
NON_FINITE = {"NaN": math.nan, "Infinity": math.inf, "-Infinity": -math.inf}


def norm(v):
    """One value in the comparator's common form."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def _sort_key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, (int, float)):
        return (1, 0.0 if math.isnan(v) else float(f"{v:.9g}"))
    return (2, str(v))


def canonical(rows):
    """Rows normalized and sorted so that engine row order does not matter."""
    rows = [tuple(norm(v) for v in r) for r in rows]
    return sorted(rows, key=lambda r: tuple(_sort_key(v) for v in r))


def _same(got, exp):
    if isinstance(exp, float) and isinstance(got, str) and got in NON_FINITE:
        got = NON_FINITE[got]
    if isinstance(got, float) and isinstance(exp, str) and exp in NON_FINITE:
        exp = NON_FINITE[exp]
    if isinstance(got, (int, float)) and isinstance(exp, (int, float)) \
            and not isinstance(got, bool) and not isinstance(exp, bool):
        if isinstance(got, int) and isinstance(exp, int):
            return got == exp
        if math.isnan(got) or math.isnan(exp):
            return math.isnan(got) and math.isnan(exp)
        return math.isclose(got, exp, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return got == exp


def compare(got_rows, exp_rows):
    """None when the answers agree, else a one-line description of the
    first difference."""
    got, exp = canonical(got_rows), canonical(exp_rows)
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        if len(g) != len(e):
            return f"row {i}: {len(g)} columns, expected {len(e)}"
        if not all(_same(a, b) for a, b in zip(g, e)):
            return f"row {i}: {g} != expected {e}"
    return None


class Oracle:
    """DuckDB views over the generated parquet; memoized answers by text."""

    def __init__(self, views):
        self.con = duckdb.connect()
        for name, path in views.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.memo = {}

    def answer(self, sql):
        if sql not in self.memo:
            self.memo[sql] = self.con.execute(sql).fetchall()
        return self.memo[sql]


class DeltaModel:
    """The Delta table's expected content, replayed in DuckDB.

    `apply` mirrors one write and returns the rows it logically inserted,
    updated or deleted; `answer` runs a read's SQL against table `t`,
    optionally filtered by the read's predicate; `state_answer` gives the
    full-table answer as of an earlier write state (time travel).
    """

    def __init__(self, base_path, full_sql):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE m AS SELECT * FROM read_parquet('{base_path}')")
        self.full_sql = full_sql
        self.states = {0: self.answer(full_sql)}

    def apply(self, op, batch_path):
        kind = op["kind"]
        changed = 0
        if kind == "append":
            changed = self.con.execute(
                f"INSERT INTO m SELECT * FROM read_parquet('{batch_path}')").fetchone()[0]
        elif kind == "merge":
            self.con.execute(
                f"DELETE FROM m USING read_parquet('{batch_path}') b "
                "WHERE m.l_orderkey = b.l_orderkey AND m.l_linenumber = b.l_linenumber")
            changed = self.con.execute(
                f"INSERT INTO m SELECT * FROM read_parquet('{batch_path}')").fetchone()[0]
        elif kind == "delete":
            changed = self.con.execute(f"DELETE FROM m WHERE {op['pred']}").fetchone()[0]
        self.states[op["state"]] = self.answer(self.full_sql)
        return changed

    def answer(self, sql, pred=None):
        where = f" WHERE {pred}" if pred else ""
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW t AS SELECT * FROM m{where}")
        return self.con.execute(sql).fetchall()

    def state_answer(self, state):
        return self.states[state]
