"""Output check of the benchmark: compares each query's Spark output with its
DuckDB twin (SparkEntry.oracleSql) on the same parquet, as a symmetric
EXCEPT ALL inside DuckDB, so only the count of differing rows leaves it.

Each query is compared twice:
  - against the twin as written: `mismatch` rows;
  - against the twin with the reference's empty-join rule (app.py's
    `" ".join([])` is '', where the twin's array_to_string yields NULL, and a
    null text stays NULL): `unexplained` rows. A query whose rows all differ
    only by that rule has mismatch > 0 and unexplained == 0.
"""
import os
import sys

import duckdb


def _diff_rows(con, out, sql, cols):
    sel = ", ".join(f'"{c}"' for c in cols)
    con.execute(f"CREATE OR REPLACE TEMP TABLE twin AS SELECT {sel} FROM ({sql})")
    spark = f"SELECT {sel} FROM read_parquet('{out}/*.parquet')"
    return con.execute(f"SELECT count(*) FROM (({spark} EXCEPT ALL FROM twin) "
                       f"UNION ALL (FROM twin EXCEPT ALL {spark}))").fetchone()[0]


def run(inp, out_dir, written, oracle, tmp, threads):
    """Returns {"mismatch": {q: rows}, "unexplained": {q: rows}, "rows": {q: rows},
    "shape": {...}}; a query without output or whose twin fails maps to None."""
    res = {"mismatch": {}, "unexplained": {}, "rows": {}, "shape": {}}
    if not written:
        return res
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    src = inp if inp.endswith(".parquet") and os.path.isfile(inp) else os.path.join(inp, "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')")
    expr = oracle["clean_text_sql_expr"]
    ref_expr = f"(CASE WHEN text IS NULL THEN NULL ELSE coalesce({expr}, '') END)"
    for q in written:
        out = os.path.join(out_dir, q)
        sql = oracle["queries"][q]
        try:
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()]
            res["rows"][q] = con.execute(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
            res["mismatch"][q] = _diff_rows(con, out, sql, cols)
            res["unexplained"][q] = (_diff_rows(con, out, sql.replace(expr, ref_expr), cols)
                                     if res["mismatch"][q] and expr in sql else res["mismatch"][q])
        except duckdb.Error as e:
            print(f"perfbench: check {q} could not run: {e}", file=sys.stderr)
    res["shape"] = shape(con, out_dir, written)
    con.close()
    return res


def shape(con, out_dir, written):
    """Corpus-shape record, read from the input and the checked outputs."""
    s = dict(zip(["docs", "text_mb", "null_docs", "empty_text_docs"], con.execute(
        "SELECT count(*), coalesce(sum(strlen(text)), 0) / 1e6, count(*) FILTER (WHERE text IS NULL), "
        "count(*) FILTER (WHERE text = '') FROM documents").fetchone()))
    out = {q: f"read_parquet('{os.path.join(out_dir, q)}/*.parquet')" for q in written}
    if "term_doc_freq" in out:
        s["distinct_clean_terms"], s["clean_tokens"] = con.execute(
            f"SELECT count(DISTINCT term), sum(tf) FROM {out['term_doc_freq']}").fetchone()
    if "clean_text" in out:
        s["empty_clean_docs"] = con.execute(
            f"SELECT count(*) FROM {out['clean_text']} WHERE clean_text = ''").fetchone()[0]
    if "dedup_exact" in out:
        s["duplicate_docs"] = con.execute(
            f"SELECT sum(dup_cnt - 1) FROM {out['dedup_exact']}").fetchone()[0]
    return {k: (round(v, 3) if isinstance(v, float) else v) for k, v in s.items()}
