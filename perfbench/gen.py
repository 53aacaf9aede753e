"""Seeded inputs for the workloads, built with DuckDB from the
fixture tables in `perfbench/fixture` (a copy of the repo's sf0.001 test
tables). Each workload's inputs are written once per seed under the
build directory and reused by later runs; generation is never timed.

- registry-sweep: the fixture as it is; the seed only permutes the
  query order (inside the harness).
- rta-etl: raw registration rows from the `main` and `dups` CTEs of the
  `q_star_fact` oracle, over `ORDERS_COPIES` key-offset copies of
  `orders`, written as 24 monthly `transport_<yyyy>-<MM>.csv` bronze
  files, with the dataset metadata JSON that `Ingest.plan` reads and a
  url → file map for the file-backed fetch.
"""
import hashlib
import json
import os
import shutil
import urllib.parse

import duckdb

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
ORDERS_COPIES = 10
MONTHS = 24


def key_offset(seed: int) -> int:
    return 1_000_000 * (1 + seed % 1000)


def raw_rows_sql(star_oracle: str) -> str:
    """The `main` and `dups` CTEs of the q_star_fact oracle, selecting
    the raw registration columns under the names Etl1 reads."""
    head = star_oracle[:star_oracle.index("raw AS (")].rstrip().rstrip(",")
    return head + """
    SELECT reg AS tempRegistrationNumber, slno, fromdate, todate, OfficeCd,
      makerName, modelDesc, fuel, makeYear, colour, vehicleClass,
      seat AS seatCapacity
    FROM (SELECT * FROM main UNION ALL SELECT * FROM dups)"""


def month_url(m: int) -> tuple:
    y, mo = 2023 + m // 12, m % 12 + 1
    label = f"01-{mo:02d}-{y} to 28-{mo:02d}-{y}"
    return (f"https://data.example.org/transport/{urllib.parse.quote(label)}.csv",
            f"transport_{y}-{mo:02d}.csv")


def _rta(dst: str, seed: int, star_oracle: str) -> None:
    con = duckdb.connect()
    off = key_offset(seed)
    con.execute(
        "CREATE VIEW orders AS " + " UNION ALL ".join(
            f"SELECT o_orderkey + {off + i * 100_000} AS o_orderkey,"
            f" o_custkey + {off + i * 100_000} AS o_custkey, o_orderdate"
            f" FROM '{FIXTURE}/orders.parquet'" for i in range(ORDERS_COPIES)))
    con.execute(f"CREATE TABLE raw AS {raw_rows_sql(star_oracle)}")
    bronze = os.path.join(dst, "bronze")
    os.makedirs(bronze)
    dist, fetch = [], []
    for m in range(MONTHS):
        url, fname = month_url(m)
        con.execute(
            f"COPY (SELECT * FROM raw WHERE slno % {MONTHS} = {m} ORDER BY slno)"
            f" TO '{bronze}/{fname}' (HEADER, DELIMITER ',')")
        dist.append({"downloadURL": url, "mediaType": "text/csv"})
        fetch.append(f"{url}\tbronze/{fname}")
    with open(os.path.join(dst, "metadata.json"), "w") as f:
        json.dump({"title": "RTA vehicle registrations", "distribution": dist}, f)
    with open(os.path.join(dst, "fetch_map.tsv"), "w") as f:
        f.write("\n".join(fetch) + "\n")


def ensure(workload: str, seed: int, cache: str, star_oracle) -> str:
    """Directory holding the inputs of `workload` for `seed`."""
    if workload == "registry-sweep":
        return FIXTURE
    sql = star_oracle()
    key = hashlib.sha256(f"{sql}|{ORDERS_COPIES}|{MONTHS}".encode()).hexdigest()[:12]
    dst = os.path.join(cache, f"{workload}-seed{seed}-{key}")
    if os.path.isfile(os.path.join(dst, ".done")):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    _rta(dst, seed, sql)
    open(os.path.join(dst, ".done"), "w").close()
    return dst
