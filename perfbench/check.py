"""Output checks, run outside every timed region.

Graded queries are compared with their ``SparkEntry.oracleSql`` text run in
DuckDB over the same parquet tables, under the comparison rules of
``tools/oracle_check.py``. The housing ETL's ``weekly`` artifact and QA row
are compared with a DuckDB re-statement of the pipeline over the raw CSV.
Each function returns a list of failure messages, empty when all match.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cells_equal(a, b):
    """tools/oracle_check.py's rule: both sides are rounded to 4 dp, so
    floats must agree to 1e-9; NaN and NULL match each other."""
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return fa == fb or abs(fa - fb) < 1e-9
    except (TypeError, ValueError):
        pass
    if a is None or b is None:
        return any(isinstance(x, float) and math.isnan(x) for x in (a, b))
    return str(a) == str(b)


def _frame(con, sql):
    df = con.sql(sql).fetchdf()
    return df[sorted(df.columns)]


def _compare(name, got, want):
    if list(got.columns) != list(want.columns):
        return f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows != {len(want)}"
    gv, wv = got.values.tolist(), want.values.tolist()
    for i, (gr, wr) in enumerate(zip(gv, wv)):
        for j, (g, w) in enumerate(zip(gr, wr)):
            if not _cells_equal(g, w):
                return f"{name}: row {i} col {got.columns[j]}: {g!r} != {w!r}"
    return None


def graded(data_dir, check_dir, oracle):
    """Compare each query's checked output with its oracle SQL."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'")
    fails = []
    for name, sql in oracle.items():
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not sql:
            fails.append(f"{name}: no oracle SQL")
        elif not files:
            fails.append(f"{name}: no checked output")
        else:
            try:
                msg = _compare(name, _frame(con, f"SELECT * FROM '{files[0]}'"),
                               _frame(con, sql))
            except duckdb.Error as e:
                msg = f"{name}: {e}"
            if msg:
                fails.append(msg)
    con.close()
    return fails


def _rnd(x):
    return f"floor(({x}) * 10000.0 + 0.5) / 10000.0"


def housing(csv, lookup, out_dirs):
    """Compare every pass's weekly and qa artifacts with DuckDB."""
    con = duckdb.connect()
    con.sql(f"""
      CREATE VIEW raw AS SELECT * FROM read_csv('{csv}', header = true,
        all_varchar = true, quote = '"')""")
    con.sql(f"""
      CREATE VIEW lk AS SELECT upper(regexp_replace(postcode, '\\s+', '', 'g'))
        AS pc, local_authority FROM read_csv('{lookup}', header = true,
        all_varchar = true, quote = '"')""")
    con.sql("""
      CREATE VIEW canon AS SELECT
        transaction_unique_identifier AS tid,
        try_strptime(date_of_transfer, '%Y-%m-%d %H:%M') AS d,
        floor(try_cast(price AS DOUBLE) * 100 + 0.5) AS cents,
        upper(regexp_replace(r.postcode, '\\s+', '', 'g')) AS pc
      FROM raw r""")
    con.sql("""
      CREATE VIEW with_la AS SELECT c.*, lk.local_authority AS la,
        date_trunc('week', d) AS week
      FROM canon c LEFT JOIN lk ON c.pc = lk.pc WHERE d IS NOT NULL""")
    want_weekly = _frame(con, f"""
      SELECT week, la AS dim, count(DISTINCT tid) AS transactions,
        CASE WHEN count(cents) = 0 THEN NULL
             ELSE {_rnd('sum(cents) / 100.0 / count(cents)')} END AS price_mean,
        {_rnd('quantile_cont(cents, 0.5) / 100.0')} AS price_median,
        {_rnd('quantile_cont(cents, 0.1) / 100.0')} AS price_p10,
        {_rnd('quantile_cont(cents, 0.9) / 100.0')} AS price_p90
      FROM with_la WHERE la IS NOT NULL GROUP BY 1, 2 ORDER BY dim, week""")
    want_qa = _frame(con, f"""
      SELECT (SELECT count(*) FROM raw) AS rows_raw,
        count(DISTINCT la) AS dims,
        {_rnd('coalesce(avg(CASE WHEN la IS NOT NULL THEN 1 ELSE 0 END) * 100.0, 0.0)')}
          AS coverage_pct,
        max(week) AS latest_week
      FROM with_la""")
    ts = "CAST(replace({0}, 'Z', '') AS TIMESTAMP) AS {0}"
    num = "TRY_CAST({0} AS DOUBLE) AS {0}"
    shapes = {
        "weekly": (want_weekly, [ts.format("week"), "dim",
                                 "CAST(transactions AS BIGINT) AS transactions"]
                   + [num.format(c) for c in ("price_mean", "price_median",
                                              "price_p10", "price_p90")],
                   "dim, week"),
        "qa": (want_qa, ["CAST(rows_raw AS BIGINT) AS rows_raw",
                         "CAST(dims AS BIGINT) AS dims",
                         num.format("coverage_pct"), ts.format("latest_week")],
               "rows_raw"),
    }
    fails = []
    for d in out_dirs:
        for tab, (want, cols, order) in shapes.items():
            files = glob.glob(os.path.join(d, tab, "*.csv"))
            if len(files) != 1:
                fails.append(f"{os.path.basename(d)}/{tab}: {len(files)} csv files")
                continue
            got = _frame(con, f"""
              SELECT {', '.join(cols)} FROM read_csv('{files[0]}',
                header = true, all_varchar = true) ORDER BY {order}""")
            msg = _compare(f"{os.path.basename(d)}/{tab}", got, want)
            if msg:
                fails.append(msg)
    con.close()
    return fails
