"""Output checks, run outside the timed window.

Crawl: the engine's per-epoch counters, URL-seen set and per-(url, epoch)
scan-result rows must equal the simulator's (the views
``tests/test_e2e_equality.py`` compares). Result rows are compared as md5
digests built the same way on both sides, so only (url, epoch, digest)
crosses the Py4J boundary.

Query library: every headline query's rows must equal its DuckDB oracle
(``__spark_entry__.oracle_sql``), normalized as ``tests/
test_entry_contract.py`` does. The oracle runs in the input builder and
its normalized rows are cached with the inputs.
"""

from __future__ import annotations

import os


def engine_result_digests(results_df) -> dict[str, str]:
    from pyspark.sql import functions as F

    def opt(c):
        return F.coalesce(F.col(c), F.lit("\x00"))

    digest = F.md5(F.concat_ws(
        "\x1e", opt("fault"),
        F.when(F.col("online"), F.lit("true")).otherwise(F.lit("false")),
        opt("title"), opt("hash"),
        F.coalesce(F.array_join(F.array_sort("new_urls"), "\x1f"),
                   F.lit("\x00")),
        F.coalesce(F.array_join("form_dicts", "\x1f"), F.lit("\x00")),
        opt("redirect")))
    pdf = results_df.select("url", "epoch", digest.alias("d")).toPandas()
    return {f"{u}\t{e}": d for u, e, d in zip(pdf["url"], pdf["epoch"],
                                              pdf["d"])}


def crawl_mismatches(history: list[dict], seen: set[str],
                     digests: dict[str, str], expected: dict) -> list[str]:
    """Names of the compared views that differ from the simulator's."""
    bad = []
    want = expected["history"]
    got = [{"epoch": h["epoch"], "candidates": h["candidates"] + h["blocked"],
            "posted": h["posted"], "inserted": h["inserted"]}
           for h in history]
    if got != want:
        bad.append("epoch_counters")
    if seen != set(expected["seen"]):
        bad.append("url_seen_set")
    if digests != expected["results"]:
        bad.append("scan_results")
    return bad


def _normalize(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 4)
                if v == -0.0:
                    v = 0.0
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def oracle_expectation(sf_dir: str, tables) -> dict:
    """Every headline query's DuckDB oracle result over ``sf_dir``,
    normalized; computed by the input builder, so DuckDB never runs in
    the measured process."""
    import duckdb

    import __spark_entry__ as entry_mod
    from bench import HEADLINE

    sql = entry_mod.oracle_sql()
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in HEADLINE:
            res = con.execute(sql[name])
            cols = [d[0] for d in res.description]
            out[name] = {"cols": sorted(cols),
                         "rows": [list(r) for r in
                                  _normalize(res.fetchall(), cols)]}
        return out
    finally:
        con.close()


def query_matches(expected: dict, df) -> bool:
    """Whether ``df``'s rows equal the cached oracle result."""
    rows = [tuple(r) for r in df.collect()]
    return (sorted(df.columns) == expected["cols"]
            and [list(r) for r in _normalize(rows, df.columns)]
            == expected["rows"])
