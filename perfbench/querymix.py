"""The short query mix over the star-schema sample: declared queries from
``__spark_entry__.queries()`` run through the ``noop`` sink, with every
result checked against DuckDB running the query's ``oracle_sql()``.

The lists are frozen here, not read from BENCH_FULL.json at run time,
so that a later bench run cannot change what this benchmark measures.
They were taken from BENCH_FULL.json at the commit that added them
(385 queries at sf0.1, 8 cores): ``short`` is the 233 queries under
1 s, sorted by name.
"""

from __future__ import annotations

# short[4::16]: every 4th name of short[::4], starting at its 2nd.
SHORT_TIMED = (
    "align_outer", "bh_adjust", "cmh_test", "distinct_counts",
    "exact_dedup_best", "histogram", "large_volume_customer",
    "multimodal_features", "point_lookup", "rdd_estimator", "salted_join_agg",
    "small_qty_revenue", "supplier_counts", "union_all", "xlsx_normalize",
)
# short[1::48]: disjoint from the timed set.
SHORT_WARMUP = (
    "abc_analysis", "cusum_changepoint", "kpss_test", "rank_funcs",
    "stream_static_enrich",
)
# Engine defects this benchmark reports as failed operations. An entry
# names the only difference allowed: any other difference in that
# query, or a difference in any other query, makes the run incorrect.
KNOWN_DEFECTS = {
    # sf0.1: the engine returns 0.0 where DuckDB returns -0.0 in two
    # columns of the single result row (ROADMAP aim 3).
    "rdd_estimator": "signed_zero",
}

def _signed_zero_only(a: list, b: list) -> bool:
    """True when rows a and b differ only by 0.0 versus -0.0 cells."""
    if len(a) != len(b) or a == b:
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x != y and {x, y} != {"0.0", "-0.0"}:
                return False
    return True


def oracle_check(data_dir: str, results: dict, work_dir: str) -> dict[str, str]:
    """Compare each query's collected (columns, rows) with DuckDB.

    Returns name -> verdict: 'ok', 'rows_only' (no oracle; non-empty),
    'known:<kind>' (a KNOWN_DEFECTS difference) or a failure message.
    Normalisation is tools/check_parity.py's, unchanged.
    """
    import duckdb  # noqa: PLC0415

    import __spark_entry__ as entry  # noqa: PLC0415
    from tools.check_parity import TABLES, norm_rows  # noqa: PLC0415

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    con.execute(f"PRAGMA temp_directory='{work_dir}/duckdb'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdicts = {}
    try:
        for name, (cols, rows) in results.items():
            if name not in oracles:
                verdicts[name] = "rows_only" if rows else "no rows and no oracle"
                continue
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            if sorted(cols) != sorted(ocols):
                verdicts[name] = f"columns {sorted(cols)} != {sorted(ocols)}"
                continue
            if len(rows) != len(orows):
                verdicts[name] = f"rowcount {len(rows)} != {len(orows)}"
                continue
            got, want = norm_rows(cols, rows), norm_rows(ocols, orows)
            if got == want:
                verdicts[name] = "ok"
            elif KNOWN_DEFECTS.get(name) == "signed_zero" and _signed_zero_only(got, want):
                verdicts[name] = "known:signed_zero"
            else:
                diff = next((g, w) for g, w in zip(got, want) if g != w)
                verdicts[name] = f"rows differ: spark {diff[0]} oracle {diff[1]}"
    finally:
        con.close()
    return verdicts
