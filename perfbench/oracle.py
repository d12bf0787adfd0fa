"""Output checks, run after the timed window.

Queries: each `SparkEntry.oracleSql` entry runs in DuckDB over the same
parquet tables, and the Spark result must match it exactly after the
driver's normalization (columns sorted by name, rows compared in order,
NaN equal to NaN, None equal to None).

Streams: each pipeline's final sink is compared with the batch result over
every landed increment, restricted to what append mode has emitted at the
final watermark.
"""
import hashlib
import math
import os

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _rows(df, cols):
    return [tuple(_norm_cell(v) for v in r) for r in df[cols].itertuples(index=False)]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(expected, got):
    """None when the frames match under the normalization, else a reason."""
    e_cols, g_cols = sorted(expected.columns), sorted(got.columns)
    if e_cols != g_cols:
        return f"columns differ: expected {e_cols}, got {g_cols}"
    e_rows, g_rows = _rows(expected, e_cols), _rows(got, g_cols)
    if len(e_rows) != len(g_rows):
        return f"row count: expected {len(e_rows)}, got {len(g_rows)}"
    for i, (e, g) in enumerate(zip(e_rows, g_rows)):
        if e != g:
            return f"row {i}: expected {e}, got {g}"
    return None


def read_result(con, result_dir):
    return con.execute(
        f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").fetchdf()


def _expected(con, sql, cache_dir):
    """The oracle result, cached per (SQL, input tables): the inputs come
    from a fixed data seed, so the result is the same in every run."""
    if cache_dir is None:
        return con.execute(sql).fetchdf()
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".pkl")
    if os.path.isfile(path):
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_queries(data_dir, oracles, results, cache_dir=None):
    """`results` maps query name to the result dirs of its operations.
    Returns {result_dir: None or failure reason}."""
    con = connect(data_dir)
    verdicts = {}
    for name, dirs in results.items():
        sql = oracles.get(name)
        expected, why = None, None
        if sql is None:
            why = "no oracle SQL"
        else:
            try:
                expected = _expected(con, sql, cache_dir)
            except Exception as e:  # noqa: BLE001 - reported as a failure
                why = f"oracle SQL error: {e}"
        for d in dirs:
            if why is not None:
                verdicts[d] = why
                continue
            try:
                verdicts[d] = compare(expected, read_result(con, d))
            except Exception as e:  # noqa: BLE001
                verdicts[d] = f"result unreadable: {e}"
    return verdicts


# ---- streams ---------------------------------------------------------------

GAP_US = 30 * 60 * 1_000_000
DELAY_US = 2 * 3600 * 1_000_000

STREAM_SQL = {
    # windows whose end the final watermark has passed
    "tumbling": """
        SELECT * FROM (
          SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type,
                 count(*) AS n, sum(value) AS value_sum
          FROM ev GROUP BY 1, 2)
        WHERE epoch_us(bucket) + 3600000000 <= {wm}
        ORDER BY bucket, event_type""",
    # gap sessions per user (half-open [start, last + gap))
    "session": """
        WITH s AS (
          SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {gap} THEN 1 ELSE 0 END AS new
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        g AS (SELECT *, sum(new) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        FROM g GROUP BY user_id, sid
        HAVING epoch_us(max(ts)) + {gap} <= {wm}
        ORDER BY user_id, session_start""",
    # first occurrence of every event_id
    "dedup": """
        SELECT DISTINCT event_id, ts, user_id, event_type, value, props
        FROM ev ORDER BY event_id""",
    # custom sessions on millisecond clocks, closed by a later event past
    # the gap or by the event-time timeout at the final watermark
    "stateful": """
        WITH s AS (
          SELECT user_id, ts, value, epoch_ms(ts) AS ms,
            CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= {gap_ms} THEN 1 ELSE 0 END AS new
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        g AS (SELECT *, sum(new) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS sid FROM s),
        x AS (SELECT user_id, sid, count(*) AS n, sum(value) AS v, max(ms) AS last_ms,
              max(sid) OVER (PARTITION BY user_id) AS last_sid
              FROM g GROUP BY user_id, sid)
        SELECT user_id AS userId, n AS nEvents, v AS valueSum, true AS closed
        FROM x WHERE sid < last_sid OR last_ms + {gap_ms} < {wm_ms}
        ORDER BY userId, nEvents, valueSum""",
}

STREAM_ORDER = {
    "tumbling": ["bucket", "event_type"],
    "session": ["user_id", "session_start"],
    "dedup": ["event_id"],
    "stateful": ["userId", "nEvents", "valueSum"],
}


def _close(a, b):
    # Spark writes UTC-adjusted timestamps, the oracle naive ones: compare
    # instants
    if hasattr(a, "value") and hasattr(b, "value"):
        return a.value == b.value
    if isinstance(a, float) or isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def final_watermark_us(con):
    """max event time, truncated to milliseconds as Spark tracks it, minus
    the 2 h delay."""
    max_ms = con.execute("SELECT max(epoch_ms(ts)) FROM ev").fetchone()[0]
    return max_ms * 1000 - DELAY_US


def check_stream(landed, sink_dir, pipeline, reported_wm_ms=None):
    """None when the sink matches the batch result over the `landed`
    increment files, else a reason. Sums compare with a relative
    tolerance: the stream adds partial sums in another order than
    DuckDB."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    files = ", ".join(f"'{f}'" for f in landed)
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet([{files}])")
    wm = final_watermark_us(con)
    if reported_wm_ms is not None and reported_wm_ms * 1000 != wm:
        return f"watermark: engine reports {reported_wm_ms} ms, expected {wm // 1000} ms"
    sql = STREAM_SQL[pipeline].format(wm=wm, gap=GAP_US, gap_ms=GAP_US // 1000,
                                      wm_ms=wm // 1000)
    expected = con.execute(sql).fetchdf()
    if not os.path.isdir(sink_dir):
        return "sink missing"
    order = ", ".join(STREAM_ORDER[pipeline])
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet('{sink_dir}/*.parquet') ORDER BY {order}").fetchdf()
    except duckdb.IOException:
        got = expected.iloc[0:0]
    cols = sorted(expected.columns)
    if sorted(got.columns) != cols:
        return f"columns differ: expected {cols}, got {sorted(got.columns)}"
    e_rows, g_rows = _rows(expected, cols), _rows(got, cols)
    if len(e_rows) != len(g_rows):
        return f"row count: expected {len(e_rows)}, got {len(g_rows)}"
    for i, (e, g) in enumerate(zip(e_rows, g_rows)):
        if not all(_close(a, b) for a, b in zip(e, g)):
            return f"row {i}: expected {e}, got {g}"
    return None
