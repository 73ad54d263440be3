#!/usr/bin/env python3
"""Compare the benchmark's seeded events stand-in with a reference events table.

    python3 perfbench/compare_events.py <reference events.parquet> <stand-in dir>

The stand-in dir is a parquet table the benchmark wrote from `Data.events`,
for example `perfbench/.work/vt_pristine` after a `deletion_workflow` run;
every parquet file under it is read. Only the first copy (event_id below 200,000) is compared,
so a table of several copies compares like one. Prints one row per property
with the reference's figure and the stand-in's. Needs the `duckdb` module;
the benchmark itself does not.
"""
import glob
import os
import sys

import duckdb

QUERIES = [
    ("rows", "select count(*) from {t}"),
    ("days", "select count(distinct cast(ts as date)) from {t}"),
    ("first ts", "select min(ts) from {t}"),
    ("last ts", "select max(ts) from {t}"),
    ("rows per day min/median/max",
     "select min(n) || ' / ' || median(n) || ' / ' || max(n) "
     "from (select count(*) n from {t} group by cast(ts as date))"),
    ("rows with sub-second ts", "select count(*) filter (where microsecond(ts) % 1000000 <> 0) from {t}"),
    ("corr(event_id, ts)", "select round(corr(event_id, epoch(ts)), 6) from {t}"),
    ("distinct users", "select count(distinct user_id) from {t}"),
    ("user_id min/max", "select min(user_id) || ' / ' || max(user_id) from {t}"),
    ("rows per user min/median/max",
     "select min(n) || ' / ' || median(n) || ' / ' || max(n) "
     "from (select count(*) n from {t} group by user_id)"),
    ("event types (share %)",
     "select string_agg(event_type || ' ' || round(100.0 * n / (select count(*) from {t}), 1), "
     "', ' order by event_type) from (select event_type, count(*) n from {t} group by 1)"),
    ("value mean/sd", "select round(avg(value), 2) || ' / ' || round(stddev(value), 2) from {t}"),
    ("value p50/p90/p99/max",
     "select round(quantile_cont(value, 0.5), 2) || ' / ' || round(quantile_cont(value, 0.9), 2)"
     " || ' / ' || round(quantile_cont(value, 0.99), 2) || ' / ' || max(value) from {t}"),
    ("values with more than 2 decimals", "select count(*) filter (where value <> round(value, 2)) from {t}"),
]


def table(con, name, path):
    """Define view `name` over a parquet file or every parquet file under a
    directory; return the number of files."""
    files = [path]
    if os.path.isdir(path):
        files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not files:
            sys.exit(f"no parquet files under {path}")
    con.sql(f"create view {name} as select event_id, ts, user_id, event_type, value "
            f"from read_parquet({files!r}) where event_id < 200000")
    return len(files)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    con = duckdb.connect()
    table(con, "ref", sys.argv[1])
    files = table(con, "standin", sys.argv[2])
    print(f"{'property':34} {'reference':>40}   stand-in")
    for label, q in QUERIES:
        a = con.sql(q.format(t="ref")).fetchone()[0]
        b = con.sql(q.format(t="standin")).fetchone()[0]
        print(f"{label:34} {str(a):>40}   {b}")
    print(f"{'data files in stand-in dir':34} {'':>40}   {files}")


if __name__ == "__main__":
    main()
