"""Output checks, restated in DuckDB independently of the Spark plans.

Batch and stream: the routed set must be exactly the input rows that have
a non-empty ``tenant=`` and ``op`` other than ``healthcheck``. Each routed
row's sink must be the route rule for its source (``src-i`` goes to
``sink-{i % 3}``) and its token array and ``n_tok`` must equal the
input's, matched by ``doc_id`` (token arrays are compared by their
64-bit DuckDB hash). Per-sink ``num_rows`` and ``sum_tokens``
summed over the ``metrics/`` output must equal the same restatement.

Spans: the catalog's own DuckDB oracle SQL, run over a seeded subset of
traces; every operator is trace-local, so the Spark output restricted to
those traces must equal the oracle's.
"""

from __future__ import annotations

import duckdb

TENANT_RE = r"tenant=(\S*)"
OP_RE = r"op=(\S+)"
BYPASS_RE = r"bypass=(\w+)"


def connect(threads: int = 2) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    return con


def _lit(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def _files(source: str | list[str]) -> str:
    """A ``read_parquet`` argument: one glob or a list of paths."""
    if isinstance(source, str):
        return _lit(source)
    return "[" + ", ".join(_lit(p) for p in source) + "]"


def load_expected(con, source: str | list[str]) -> None:
    """Table ``exp``: the rows a correct run routes, with their sink."""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE exp AS
        SELECT doc_id, hash(tokens) AS tokens_hash, n_tok,
               'sink-' || CAST(CAST(substr(source, 5) AS INTEGER) % 3 AS VARCHAR) AS sink
        FROM read_parquet({_files(source)})
        WHERE regexp_extract(source_line, '{TENANT_RE}', 1) <> ''
          AND regexp_extract(source_line, '{OP_RE}', 1) <> 'healthcheck'
    """)


def input_shares(con, source: str | list[str]) -> dict:
    """Measured properties of the input the distributions promise."""
    row = con.execute(f"""
        SELECT count(*),
               avg(n_tok),
               avg(CAST(regexp_extract(source_line, '{TENANT_RE}', 1) = '' AS INTEGER)),
               avg(CAST(regexp_extract(source_line, '{OP_RE}', 1) = 'healthcheck' AS INTEGER)),
               avg(CAST(regexp_extract(source_line, '{BYPASS_RE}', 1) = 'true' AS INTEGER)),
               avg(CAST(source = 'src-0' AS INTEGER))
        FROM read_parquet({_files(source)})
    """).fetchone()
    hot = con.execute(
        "SELECT max(n) / sum(n) FROM (SELECT count(*) AS n FROM exp GROUP BY sink)"
    ).fetchone()[0]
    return {
        "rows": row[0], "mean_tokens": row[1], "missing_tenant_share": row[2],
        "drop_share": row[3], "bypass_share": row[4], "src0_share": row[5],
        "hot_sink_share": hot,
    }


def check_routed(con, out_dir: str, allow_duplicates: bool = False) -> tuple[dict, list[str]]:
    """Compare ``out_dir/routed`` and ``out_dir/metrics`` with ``exp``.
    Returns (counts, problems); no problems means the output is correct."""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE got AS
        SELECT doc_id, hash(tokens) AS tokens_hash, n_tok, sink
        FROM read_parquet({_lit(out_dir + '/routed/*/*.parquet')}, hive_partitioning = true)
    """)
    names = ["expected", "routed", "missing", "unexpected", "duplicates", "mismatched"]
    values = con.execute("""
        SELECT (SELECT count(*) FROM exp),
               (SELECT count(*) FROM got),
               (SELECT count(*) FROM exp ANTI JOIN got USING (doc_id)),
               (SELECT count(*) FROM got ANTI JOIN exp USING (doc_id)),
               (SELECT count(*) - count(DISTINCT doc_id) FROM got),
               (SELECT count(*) FROM got g JOIN exp e USING (doc_id)
                WHERE g.sink <> e.sink OR g.tokens_hash <> e.tokens_hash OR g.n_tok <> e.n_tok)
    """).fetchone()
    counts = dict(zip(names, values))
    problems = [f"{k}={counts[k]}" for k in ("missing", "unexpected", "mismatched") if counts[k]]
    if counts["duplicates"] and not allow_duplicates:
        problems.append(f"duplicates={counts['duplicates']}")
    if not counts["duplicates"]:
        bad = con.execute(f"""
            SELECT coalesce(e.sink, m.sink), e.n, m.n, e.t, m.t
            FROM (SELECT sink, count(*) AS n, sum(n_tok) AS t FROM exp GROUP BY sink) e
            FULL JOIN (SELECT sink, sum(num_rows) AS n, sum(sum_tokens) AS t
                       FROM read_parquet({_lit(out_dir + '/metrics/**/*.parquet')},
                                         hive_partitioning = false)
                       GROUP BY sink) m USING (sink)
            WHERE e.n IS DISTINCT FROM m.n OR e.t IS DISTINCT FROM m.t
        """).fetchall()
        problems += [f"metrics {r[0]}: rows {r[1]}!={r[2]} or tokens {r[3]}!={r[4]}" for r in bad]
    return counts, problems


def check_spans(con, events_path: str, trace_ids: list[int],
                outputs: dict[str, str]) -> dict[str, list[str]]:
    """Run each query's oracle over the traces in ``trace_ids`` and compare
    with the Spark output parquet restricted to the same traces. Returns
    the problems found per query."""
    from hypertrace_ingester_spark import queries as qcat
    from hypertrace_ingester_spark.oracle import compare

    ids = ", ".join(str(int(t)) for t in trace_ids)
    con.execute(f"""
        CREATE OR REPLACE VIEW events AS
        SELECT * FROM read_parquet({_lit(events_path)}) WHERE user_id IN ({ids})
    """)
    oracle = qcat.oracle_sql()
    problems = {}
    for name, path in outputs.items():
        want = con.execute(oracle[name]).df()
        got = con.execute(
            f"SELECT * FROM read_parquet({_lit(path + '/*.parquet')}) WHERE trace_id IN ({ids})"
        ).df()
        problems[name] = compare(got, want)
        if want.empty:
            problems[name].append("oracle returned no rows for the sampled traces")
    return problems
