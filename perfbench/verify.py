"""Output checks against the DuckDB twin (oracle.pipeline_cte).

Each check returns a list of problems; an empty list means the output
matches. The twin's rows for an input are materialized once by
workloads.build(); here they are compared with what the job wrote,
read back with DuckDB so no check shares code with the program
under test.
"""

from __future__ import annotations

import duckdb

from workloads import ROW_COLS


def _norm(col: str) -> str:
    if col in ("event_ts", "filled_ts"):
        return f"CAST(CAST({col} AS TIMESTAMP) AS VARCHAR) AS {col}"
    if col == "event_date":
        return f"CAST(CAST({col} AS DATE) AS VARCHAR) AS {col}"
    return f"CAST({col} AS VARCHAR) AS {col}"


def _connect(corpus_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(
        "CREATE VIEW oracle AS SELECT * FROM "
        f"read_parquet('{corpus_dir}/oracle_rows.parquet')"
    )
    return con


def _symmetric_diff(con, left: str, right: str, cols: list[str]) -> int:
    sel = ", ".join(_norm(c) for c in cols)
    (n,) = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM {left} EXCEPT ALL "
        f"SELECT {sel} FROM {right})) + (SELECT count(*) FROM (SELECT {sel} "
        f"FROM {right} EXCEPT ALL SELECT {sel} FROM {left}))"
    ).fetchone()
    return int(n)


def _duplicates(con, rel: str) -> int:
    (n,) = con.execute(
        f"SELECT count(*) - count(DISTINCT (conv_id, turn_idx)) FROM {rel}"
    ).fetchone()
    return int(n)


def check_job_output(
    out_dir: str, corpus_dir: str, fallback_ts_free: bool = False
) -> list[str]:
    """plans.job output (hive sinks/sink=<s>/event_date=<d>/ and
    agg_hourly/) against the twin over the whole corpus: per-(sink,
    event_date) row counts, the hourly aggregate, no duplicate
    (conv_id, turn_idx) and every sink row.
    `fallback_ts_free` is for outputs holding batches with different
    --batch-ts values: filled_ts (and so event_date) of turns before a
    conversation's first timestamp is the batch timestamp, so those
    columns are left out and counts are compared per sink."""
    problems = []
    con = _connect(corpus_dir)
    try:
        con.execute(
            "CREATE VIEW sinks AS SELECT * FROM read_parquet("
            f"'{out_dir}/sinks/*/*/*.parquet', hive_partitioning = true)"
        )
        keys = "sink" if fallback_ts_free else "sink, CAST(event_date AS DATE)"
        bad = con.execute(
            f"SELECT count(*) FROM (SELECT {keys}, count(*) FROM sinks GROUP BY ALL "
            f"EXCEPT ALL SELECT {keys}, count(*) FROM oracle GROUP BY ALL)"
        ).fetchone()[0] + con.execute(
            f"SELECT count(*) FROM (SELECT {keys}, count(*) FROM oracle GROUP BY ALL "
            f"EXCEPT ALL SELECT {keys}, count(*) FROM sinks GROUP BY ALL)"
        ).fetchone()[0]
        if bad:
            problems.append(f"{bad} ({keys}) row counts differ from the twin")
        dups = _duplicates(con, "sinks")
        if dups:
            problems.append(f"{dups} duplicate (conv_id, turn_idx) rows in sinks")
        if not fallback_ts_free:
            con.execute(
                "CREATE VIEW got_hourly AS SELECT sink, severity, subsystem, "
                "CAST(window_start AS TIMESTAMP) AS window_start, cnt FROM "
                f"read_parquet('{out_dir}/agg_hourly/*.parquet')"
            )
            con.execute(
                "CREATE VIEW want_hourly AS SELECT sink, severity, subsystem, "
                "date_trunc('hour', CAST(filled_ts AS TIMESTAMP)) AS window_start, "
                "count(*) AS cnt FROM oracle GROUP BY ALL"
            )
            n = _symmetric_diff(
                con, "got_hourly", "want_hourly",
                ["sink", "severity", "subsystem", "window_start", "cnt"],
            )
            if n:
                problems.append(f"{n} hourly aggregate rows differ from the twin")
        cols = list(ROW_COLS)
        if fallback_ts_free:
            cols.remove("filled_ts")
        else:
            cols.append("event_date")
        n = _symmetric_diff(con, "sinks", "oracle", cols)
        if n:
            problems.append(f"{n} sink rows differ from the twin")
    except duckdb.Error as e:
        problems.append(f"output unreadable: {e}")
    finally:
        con.close()
    return problems


def dashboard_keys(corpus_dir: str) -> tuple[str, str]:
    """(busiest event date, largest conversation) of the corpus, from
    the twin's rows: the fixed keys of the dashboard read-backs."""
    con = _connect(corpus_dir)
    try:
        (day,) = con.execute(
            "SELECT CAST(event_date AS VARCHAR) FROM oracle GROUP BY event_date "
            "ORDER BY count(*) DESC, event_date LIMIT 1"
        ).fetchone()
        (conv,) = con.execute(
            "SELECT conv_id FROM oracle GROUP BY conv_id "
            "ORDER BY count(*) DESC, conv_id LIMIT 1"
        ).fetchone()
    finally:
        con.close()
    return day, conv


def check_sink_counts(summary: dict, corpus_dir: str) -> list[str]:
    """Per-sink row counts (`sinks`) and their total (`rows`), as a
    `job --no-write` summary reports them, against the twin's."""
    con = _connect(corpus_dir)
    try:
        want = dict(
            con.execute("SELECT sink, count(*) FROM oracle GROUP BY sink").fetchall()
        )
    finally:
        con.close()
    got = {k: v for k, v in summary.get("sinks", {}).items() if v}
    if got != want:
        return [f"sink counts {got} differ from the twin's {want}"]
    if summary.get("rows") != sum(want.values()):
        return [f"rows {summary.get('rows')} != twin {sum(want.values())}"]
    return []


def check_follow_output(out_dir: str, corpus_dir: str, files: list[str]) -> list[str]:
    """streaming.follow output (sinks/<sink>/event_date=<d>/) after the
    stream committed `files`: every conversation of those files present
    exactly once, no other, every row as the twin routes it."""
    problems = []
    con = _connect(corpus_dir)
    try:
        if not files:
            return ["no file committed"]
        listed = ", ".join(f"'{f}'" for f in files)
        con.execute(
            "CREATE VIEW oracle_committed AS SELECT * FROM oracle WHERE conv_id IN "
            f"(SELECT conv_id FROM read_parquet([{listed}]))"
        )
        # the sink column is kept in the files; only event_date is a
        # partition directory
        con.execute(
            "CREATE VIEW got AS SELECT * FROM read_parquet("
            f"'{out_dir}/sinks/*/*/*.parquet', hive_partitioning = true)"
        )
        dups = _duplicates(con, "got")
        if dups:
            problems.append(f"{dups} duplicate (conv_id, turn_idx) rows")
        (missing,) = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT conv_id FROM oracle_committed "
            "EXCEPT SELECT DISTINCT conv_id FROM got)"
        ).fetchone()
        if missing:
            problems.append(f"{missing} conversations missing")
        n = _symmetric_diff(con, "got", "oracle_committed", list(ROW_COLS) + ["event_date"])
        if n:
            problems.append(f"{n} rows differ from the twin")
    except duckdb.Error as e:
        problems.append(f"output unreadable: {e}")
    finally:
        con.close()
    return problems
