"""Output checks, run untimed after the product jobs.

- predict with the stub scorer: triples equal the DuckDB oracle
  (``plans/oracle.py``) over the generated documents, order-insensitively;
  the oracle applies the same per-doc pair cap (first ``cap`` pairs in
  (i1, i2) order, the kernel's kept set) when one is set.
- predict with the mlp scorer: every triple's (doc_id, i1, i2) is an
  oracle candidate, and all jobs of a run give the same fingerprint.

The DuckDB side runs in a child process (``Oracle``), so it can overlap
untimed Spark work without adding to the benchmark process's memory:

    python3 perfbench/checks.py <docs_dir> <stub|mlp> <pair_cap> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import math
import subprocess
import sys

import duckdb

from clinicaltransformerrelationextraction_spark.plans import oracle

TRIPLE_COLS = ("doc_id", "rel_id", "pred", "subj_id", "obj_id", "score")


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def canon(rows) -> list[str]:
    return sorted("|".join(_norm(x) for x in r) for r in rows)


def fingerprint(rows) -> str:
    h = hashlib.sha256()
    for line in canon(rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def connect(docs_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(
        "CREATE VIEW documents AS SELECT doc_id, text, lang FROM "
        f"read_parquet('{docs_dir}/*.parquet')"
    )
    return con


def capped_triples_sql(cap: int) -> str:
    """``oracle.q_triples()`` with the per-doc pair cap applied to its
    ``pairs`` CTE. With no doc over the cap it returns exactly what
    ``q_triples()`` returns (pinned in the tests)."""
    sql = oracle.q_triples()
    head = "\npairs AS ("
    if sql.count(head) != 1:
        raise RuntimeError("oracle q_triples no longer has one pairs CTE")
    cap_cte = (
        "\npairs AS (SELECT * FROM pairs_all QUALIFY row_number() OVER "
        f"(PARTITION BY doc_id ORDER BY i1, i2) <= {int(cap)}),"
    )
    # rename the uncapped CTE, then define the capped one right after it
    sql = sql.replace(head, "\npairs_all AS (")
    end = sql.index("\ncand AS (")
    return sql[:end].rstrip().rstrip(",") + "," + cap_cte + sql[end:]


def oracle_triples(con, cap: int) -> list[tuple]:
    cols = ", ".join(TRIPLE_COLS)
    return con.sql(
        f"SELECT {cols} FROM ({capped_triples_sql(cap)})"
    ).fetchall()


def oracle_candidate_keys(con) -> set[tuple]:
    return set(con.sql(
        f"SELECT DISTINCT doc_id, i1, i2 FROM ({oracle.q_candidates()})"
    ).fetchall())


def docs_with_mentions(con) -> int:
    sql = (f"WITH {oracle.TOKS_CTE.strip()}, {oracle.MEN_CTE.strip()} "
           "SELECT count(DISTINCT doc_id) FROM men")
    return con.sql(sql).fetchone()[0]


def expected(docs_dir: str, scorer: str, cap: int) -> dict:
    """What the oracle says a predict job over ``docs_dir`` must give:
    the docs with mentions (one brat row each), and the capped triples
    (stub) or the candidate (doc_id, i1, i2) keys (any other scorer)."""
    con = connect(docs_dir)
    try:
        out = {"docs_with_mentions": docs_with_mentions(con)}
        if scorer == "stub":
            out["triples"] = oracle_triples(con, cap)
        else:
            out["candidate_keys"] = sorted(oracle_candidate_keys(con))
    finally:
        con.close()
    return out


class Oracle:
    """``expected(...)`` computed in a child process; ``result()`` waits."""

    def __init__(self, docs_dir: str, scorer: str, cap: int, out_path: str):
        self.out_path = out_path
        self.proc = subprocess.Popen(
            [sys.executable, __file__, docs_dir, scorer, str(cap), out_path])

    def stop(self) -> None:
        self.proc.kill()
        self.proc.wait()

    def result(self) -> dict:
        try:
            rc = self.proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            self.stop()
            raise
        if rc:
            raise RuntimeError(f"oracle process exited with {rc}")
        with open(self.out_path) as f:
            out = json.load(f)
        for key in ("triples", "candidate_keys"):
            if key in out:
                out[key] = [tuple(r) for r in out[key]]
        return out


def diff(got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal as multisets, else a short description."""
    a, b = canon(got), canon(want)
    if a == b:
        return None
    sa, sb = set(a), set(b)
    return (f"{len(a)} rows vs {len(b)} expected; only got "
            f"{sorted(sa - sb)[:3]}; only expected {sorted(sb - sa)[:3]}")


if __name__ == "__main__":
    docs_dir, scorer, cap, out_path = sys.argv[1:]
    with open(out_path, "w") as f:
        json.dump(expected(docs_dir, scorer, int(cap)), f)
