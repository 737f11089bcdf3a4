"""Independent cohort oracle: CNF JSON -> DuckDB SQL.

This translator shares no code with the engine's wire parser or cohort
compiler. It reads the same JSON a client sends and answers it with
plain set algebra over the same parquet files:

    members = INTERSECT over disjunctions of (UNION of atom key sets)
              EXCEPT (UNION of exclusion atom key sets)

Atom semantics follow the wire format's documented fields: list
fields are ``IN`` filters, ``min_*`` bounds are inclusive, ``max_*``
bounds are inclusive, ``date_from`` is inclusive and ``date_to`` is
exclusive. A lineitem atom reaches its subject through its order.
"""

from __future__ import annotations

import duckdb


def _quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _in(col: str, values: list[str]) -> str:
    return f"{col} IN ({', '.join(_quote(v) for v in values)})"


def _conditions(atom: dict) -> tuple[str, list[str]]:
    """(source table SQL, list of predicates) for one atom."""
    kind = atom["type"]
    conds: list[str] = []
    if kind == "subject":
        if atom.get("segments"):
            conds.append(_in("c_mktsegment", atom["segments"]))
        if atom.get("min_balance") is not None:
            conds.append(f"c_acctbal >= {float(atom['min_balance'])!r}")
        if atom.get("max_balance") is not None:
            conds.append(f"c_acctbal <= {float(atom['max_balance'])!r}")
        return "SELECT c_custkey AS subject_id FROM customer", conds
    if kind == "order":
        if atom.get("priorities"):
            conds.append(_in("o_orderpriority", atom["priorities"]))
        if atom.get("statuses"):
            conds.append(_in("o_orderstatus", atom["statuses"]))
        if atom.get("date_from"):
            conds.append(f"o_orderdate >= TIMESTAMP {_quote(atom['date_from'])}")
        if atom.get("date_to"):
            conds.append(f"o_orderdate < TIMESTAMP {_quote(atom['date_to'])}")
        if atom.get("min_total") is not None:
            conds.append(f"o_totalprice >= {float(atom['min_total'])!r}")
        return "SELECT o_custkey AS subject_id FROM orders", conds
    if kind == "lineitem":
        if atom.get("returnflags"):
            conds.append(_in("l_returnflag", atom["returnflags"]))
        if atom.get("min_quantity") is not None:
            conds.append(f"l_quantity >= {float(atom['min_quantity'])!r}")
        if atom.get("max_quantity") is not None:
            conds.append(f"l_quantity <= {float(atom['max_quantity'])!r}")
        return (
            "SELECT o_custkey AS subject_id FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey"
        ), conds
    raise ValueError(f"unknown atom type {kind!r}")


def atom_sql(atom: dict) -> str:
    src, conds = _conditions(atom)
    return src + (" WHERE " + " AND ".join(conds) if conds else "")


def members_sql(request: dict) -> str:
    """SQL for the distinct subject ids a CNF request selects."""
    disj = [
        "(" + " UNION ".join(atom_sql(a) for a in d) + ")"
        for d in request["include"]
    ]
    sql = "\nINTERSECT\n".join(f"SELECT DISTINCT subject_id FROM {d}" for d in disj)
    excl = request.get("exclude") or []
    if excl:
        sql = (
            f"({sql})\nEXCEPT\nSELECT subject_id FROM ("
            + " UNION ".join(atom_sql(a) for a in excl)
            + ")"
        )
    return sql


def count_sql(request: dict) -> str:
    return f"SELECT count(*) AS n_subjects FROM ({members_sql(request)})"


def facets_sql(request: dict) -> str:
    return (
        "SELECT c_mktsegment AS facet, count(*) AS n_subjects "
        f"FROM ({members_sql(request)}) m JOIN customer ON c_custkey = m.subject_id "
        "GROUP BY c_mktsegment ORDER BY facet"
    )


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per parquet table in ``data_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def answer(con: duckdb.DuckDBPyConnection, request: dict) -> dict:
    """{'count': n, 'facets': [(facet, n), ...]} for one CNF request."""
    (count,) = con.execute(count_sql(request)).fetchone()
    facets = [tuple(r) for r in con.execute(facets_sql(request)).fetchall()]
    return {"count": int(count), "facets": [(f, int(n)) for f, n in facets]}
