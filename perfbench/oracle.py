"""Output checks: each workload's sink output against an independent
DuckDB computation over the same generated inputs.

A check returns a list of human-readable problems; an empty list means
the execute produced exactly the expected output.
"""

from __future__ import annotations

import glob
import os

import duckdb

SALES_COLUMNS = (
    "sale_id, order_id, customer_id, product_id, quantity, price, category, "
    "CAST(sale_date AS DATE) AS sale_date, epoch_us(sale_timestamp) AS sale_ts_us, "
    "status, store_id, region, CAST(total_amount AS DECIMAL(18, 2)) AS total_amount"
)


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def check_quality_ingest(manifest: dict, out_path: str, quarantine_path: str, metrics) -> list[str]:
    """The sink holds exactly the valid rows (NULL keys and ``quantity <= 0``
    removed, duplicates kept) with ``total_amount`` computed; quarantine and
    the duplicate count match what the generator injected."""
    problems = []
    if metrics.status != "SUCCESS":
        return [f"status {metrics.status}: {metrics.error_details}"]
    files = _parquet_files(out_path)
    if not files:
        return ["sink wrote no parquet files"]
    con = duckdb.connect()
    src = os.path.join(manifest["src"], "*.parquet")
    con.execute(
        f"""CREATE VIEW expected AS
        SELECT {SALES_COLUMNS} FROM (
            SELECT *, round(CAST(quantity AS DECIMAL(10, 0)) * price, 2) AS total_amount
            FROM read_parquet('{src}')
            WHERE product_id IS NOT NULL AND store_id IS NOT NULL AND quantity > 0)"""
    )
    con.execute(
        f"""CREATE VIEW actual AS SELECT {SALES_COLUMNS}
        FROM read_parquet({files!r}, hive_partitioning = true)"""
    )
    n_expected = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    n_actual = con.execute("SELECT count(*) FROM actual").fetchone()[0]
    if n_actual != n_expected:
        problems.append(f"sink rows {n_actual} != expected {n_expected}")
    else:
        extra = con.execute(
            "SELECT count(*) FROM (SELECT * FROM actual EXCEPT ALL SELECT * FROM expected)"
        ).fetchone()[0]
        if extra:
            problems.append(f"{extra} sink rows differ from the expected rows")

    injected = manifest["null_keys"] + manifest["violators"]
    q_files = _parquet_files(quarantine_path)
    quarantined = (
        con.execute(
            f"SELECT count(*) FROM read_parquet({q_files!r}) WHERE run_id = ?",
            [metrics.run_id],
        ).fetchone()[0]
        if q_files
        else 0
    )
    if quarantined != injected:
        problems.append(f"quarantine holds {quarantined} rows, generator injected {injected}")
    if metrics.records_failed != injected:
        problems.append(f"records_failed {metrics.records_failed} != injected {injected}")
    duplicates = metrics.quality_report.duplicates if metrics.quality_report else None
    if duplicates != manifest["duplicates"]:
        problems.append(f"duplicates {duplicates} != injected {manifest['duplicates']}")
    con.close()
    return problems


def check_stream_windowing(manifest: dict, out_path: str, watermark_s: int, metrics) -> list[str]:
    """The sink holds every (window, metric) aggregate whose one-minute
    window the final watermark (max event time minus the delay) has
    closed, with the exact count and the mean value."""
    if metrics.status != "SUCCESS":
        return [f"status {metrics.status}: {metrics.error_details}"]
    files = _parquet_files(out_path)
    if not files:
        return ["sink wrote no parquet files"]
    con = duckdb.connect()
    src = os.path.join(manifest["src"], "*.json")
    con.execute(
        f"""CREATE VIEW events AS
        SELECT CAST(ts AS TIMESTAMP) AS ts, metric, value
        FROM read_json('{src}', columns = {{ts: 'VARCHAR', metric: 'VARCHAR', value: 'DOUBLE'}},
                       format = 'newline_delimited')"""
    )
    con.execute(
        f"""CREATE VIEW expected AS
        SELECT * FROM (
            SELECT time_bucket(INTERVAL 1 MINUTE, ts) AS window_start, metric AS metric_name,
                   count(*) AS total_events, avg(value) AS avg_value
            FROM events GROUP BY 1, 2)
        WHERE window_start + INTERVAL 1 MINUTE
              <= (SELECT max(ts) FROM events) - INTERVAL {int(watermark_s)} SECOND"""
    )
    con.execute(
        f"""CREATE VIEW actual AS
        SELECT window_start, window_end, metric_name, total_events, avg_value
        FROM read_parquet({files!r})"""
    )
    problems = []
    n_expected = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    n_actual = con.execute("SELECT count(*) FROM actual").fetchone()[0]
    if n_actual != n_expected:
        problems.append(f"sink windows {n_actual} != expected closed windows {n_expected}")
    mismatched = con.execute(
        """SELECT count(*) FROM expected e FULL JOIN actual a
           ON a.window_start = e.window_start AND a.metric_name = e.metric_name
           WHERE a.window_start IS NULL OR e.window_start IS NULL
              OR a.window_end != e.window_start + INTERVAL 1 MINUTE
              OR a.total_events != e.total_events
              OR abs(a.avg_value - e.avg_value) > 1e-9 * abs(e.avg_value)"""
    ).fetchone()[0]
    if mismatched:
        problems.append(f"{mismatched} windows differ from the expected aggregates")
    con.close()
    return problems
