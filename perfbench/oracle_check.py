#!/usr/bin/env python3
"""Cross-check the pipeline's batch load on generated input against the DuckDB
transliteration of the same job (`SparkEntry.oracleSql("q198_auction_star")`).

    python3 perfbench/oracle_check.py

Run from the root of a checkout.  Spark runs the benchmark's batch load
(Flatten -> rescrape list -> Silver -> MergeWrite -> StarLoad) over the default
seed's base files; DuckDB runs the q198 SQL with its fixture paths pointed at the
same files.  Every star table is projected into q198's tagged-union columns
on both sides and compared row for row (doubles to 1e-9).  Prints one line
per table and exits 1 on any difference.
"""

import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

# q198's tagged-union projection of each warehouse table (AuctionQueries'
# q198AuctionStarLoad): union column -> table column.
SECTIONS = {
    **{t: {"id": "id", "s1": k} for t, k in [
        ("auction_status_dim", "status"), ("reserve_status_dim", "status"),
        ("body_style_dim", "body_style"), ("seller_type_dim", "seller_type"),
        ("drivetrain_dim", "drivetrain"), ("transmission_dim", "transmission"),
        ("vehicle_make_dim", "make")]},
    "state_dim": {"id": "id", "s1": "state", "s2": "state_abbr"},
    "city_dim": {"id": "id", "s1": "city_name", "n1": "state_id"},
    "vehicle_model_dim": {"id": "id", "s1": "model", "n1": "make_id"},
    "vehicle_dim": {"id": "vehicle_id", "s1": "vin", "s2": "auction_id", "s3": "engine",
                    "s4": "exterior_color", "s5": "interior_color", "s6": "title_status",
                    "s7": "title_state", "n1": "make_id", "n2": "model_id",
                    "n3": "body_style_id", "n4": "manufacture_year", "n5": "mileage",
                    "n6": "transmission_id", "n7": "gear_count", "n8": "drivetrain_id",
                    "n9": "equipment_count", "n10": "mod_count", "n11": "flaw_count",
                    "n12": "service_count", "n13": "included_items_count"},
    "auction_fact": {"s1": "auction_id", "s2": "auction_title", "s3": "auction_subtitle",
                     "s4": "auction_url", "s5": "bids", "n1": "vehicle_id",
                     "n2": "auction_status", "n3": "reserve_status", "n4": "auction_state",
                     "n5": "auction_city", "n6": "seller_type", "n7": "view_count",
                     "n8": "watcher_count", "n9": "bid_count", "n10": "max_bid",
                     "n11": "min_bid", "n12": "bid_range", "n13": "highlight_count",
                     "n14": "video_count", "d1": "mean_bid", "d2": "median_bid",
                     "t1": "auction_time"},
}
COLS = ["id"] + [f"s{i}" for i in range(1, 8)] + [f"n{i}" for i in range(1, 15)] + ["d1", "d2", "t1"]


def spark_union_sql(warehouse):
    parts = []
    for t, m in SECTIONS.items():
        exprs = []
        for c in COLS:
            src = m.get(c)
            if src is None:
                exprs.append(f"NULL AS {c}")
            elif c == "s5" and t == "auction_fact":
                exprs.append(f"CAST({src} AS VARCHAR) AS {c}")
            elif c == "t1":
                exprs.append(f"CAST(timezone('UTC', {src}) AS TIMESTAMP) AS {c}")
            else:
                exprs.append(f"{src} AS {c}")
        parts.append(f"SELECT '{t}' AS tbl, {', '.join(exprs)} "
                     f"FROM read_parquet('{warehouse}/{t}/**/*.parquet')")
    return "\nUNION ALL\n".join(parts)


def norm(row):
    out = []
    for v in row:
        if isinstance(v, float):
            v = None if math.isnan(v) else round(v, 9)
        elif isinstance(v, str):
            v = v.replace(" ", "")     # list rendering: "[1, 2]" vs "[1,2]"
        out.append(v)
    return tuple(out)


def main():
    import duckdb
    root = os.getcwd()
    cp = run.classpath(root)
    data, manifest = gen.cached(os.path.join(run.WORK, "data"), run.DEFAULT_SEED,
                                run.BASE_DAYS, run.STREAM_DAYS, run.PER_DAY)
    work = os.path.join(run.WORK, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sql_file = os.path.join(work, "q198.sql")
    subprocess.run(["java", "-Xmx2g"] + [x for p in run.JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                   + ["-cp", cp, "perfbench.OracleDump", "--data", data, "--work", work,
                      "--sql", sql_file], check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    base = [f for f in manifest["files"] if f["part"] == "base"]

    def files(even):
        return "[" + ", ".join(f"'{data}/base/{f['name']}'" for i, f in enumerate(base)
                               if (i % 2 == 0) == even) + "]"
    sql = open(sql_file).read()
    # the SQL reads the committed fixtures' one map-envelope and one
    # list-envelope file; point each at the generated files of that envelope
    sql = re.sub(r"'[^']*/map\.json'", files(True), sql)
    sql = re.sub(r"'[^']*/list\.json'", files(False), sql)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    oracle = con.execute(sql).fetchall()
    spark = con.execute(spark_union_sql(os.path.join(work, "warehouse"))).fetchall()
    bad = 0
    for t in SECTIONS:
        o = sorted((norm(r) for r in oracle if r[0] == t), key=repr)
        s = sorted((norm(r) for r in spark if r[0] == t), key=repr)
        diff = len(set(o) ^ set(s)) if len(o) == len(s) else None
        ok = o == s
        bad += not ok
        print(f"{t:<20} spark={len(s):6d} duckdb={len(o):6d} "
              + ("equal" if ok else f"DIFFERENT ({'row count' if diff is None else f'{diff} rows'})"))
    print("oracle check:", "all tables equal" if not bad else f"{bad} table(s) differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
