"""Output checks, run after the timed passes and never timed.

Query workloads compare each query's result with its DuckDB oracle from
`SparkEntry.oracleSql` by the rules of `tools/check.py` (unordered
multisets, columns sorted by name, dtype classes must agree). A query
without an oracle must at least have produced its result. Some oracles
take seconds to tens of seconds in DuckDB, so each oracle's answer is
cached under the build directory, keyed by its SQL text and the bytes
of the input tables; oracles that read files the run staged name the
run's own paths and so are recomputed every run.

`rta-etl` reads the gold tables back and compares them with DuckDB over
the same bronze CSVs, running the `q_star_fact` / `q_star_dim_vehicle`
oracle CTEs from the raw rows on: row counts per table, plus an
order-independent hash of every fact column on the rows outside the
oracle's `slno % 13 = 1` typo slice (the ETL itself applies no typo)
and of the whole of `dim_vehicle`.
"""
import glob
import hashlib
import importlib.util
import os
import pickle

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _repo_rules():
    spec = importlib.util.spec_from_file_location(
        "repo_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fingerprint(inputs: str) -> str:
    h = hashlib.sha256()
    for f in sorted(glob.glob(f"{inputs}/*.parquet")):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _oracle_answer(con, rules, sql: str, cache: str) -> tuple:
    """(DuckDB column types, result frame) of an oracle, cached."""
    path = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
    if os.path.isfile(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    answer = (rules.duck_types(con, f"({sql})"), con.execute(sql).df())
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(answer, f)
    os.replace(path + ".tmp", path)
    return answer


def check_queries(inputs: str, check_dir: str, names, oracle: dict, cache_root: str) -> list:
    """[(name, ok, detail)] for each query in `names`."""
    rules = _repo_rules()
    con = duckdb.connect()
    for t in rules.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    cache = os.path.join(cache_root, _fingerprint(inputs))
    out = []
    for name in names:
        got_path = f"{check_dir}/{name}/*.parquet"
        if not glob.glob(got_path):
            out.append((name, False, "no result"))
            continue
        sql = oracle.get(name)
        if sql is None:
            out.append((name, True, "ran (no oracle)"))
            continue
        try:
            want_types, want = _oracle_answer(con, rules, sql, cache)
            bad = rules.type_mismatches(rules.duck_types(con, f"SELECT * FROM '{got_path}'"),
                                        want_types)
            if bad:
                out.append((name, False, f"dtype {bad}"))
                continue
            g = rules.canon(con.execute(f"SELECT * FROM '{got_path}'").df())
            w = rules.canon(want.copy())
            if list(g.columns) != list(w.columns):
                out.append((name, False, f"columns {list(g.columns)} vs {list(w.columns)}"))
            elif len(g) != len(w):
                out.append((name, False, f"rows {len(g)} vs {len(w)}"))
            else:
                diff = [c for c in g.columns if not _col_equal(g[c], w[c])]
                out.append((name, not diff, f"value mismatch {diff}" if diff else f"{len(g)} rows"))
        except Exception as e:  # an oracle that cannot run is a failed check
            out.append((name, False, str(e).splitlines()[0] if str(e) else repr(e)))
    return out


def _col_equal(a, b) -> bool:
    if pd.api.types.is_float_dtype(a):
        eq = ((a - b).abs() < 1e-9) | (a.isna() & b.isna())
    else:
        eq = (a == b) | (a.isna() & b.isna())
    return bool(eq.fillna(False).all())


FACT_COLS = ["VEHICLE_ID", "MANUFACTURER_ID", "RTA_ID", "REGISTRATION_ISSUE_DATE_ID",
             "REGISTRATION_EXPIRY_DATE_ID", "REGISTRATION_YEAR", "MANUFACTURER_DATE_ID",
             "TRANSPORT_TYPE", "TEMP_REGISTRATION_NUMBER", "SLNO", "IS_FUZZY_MATCH",
             "COLOUR", "FUEL_TYPE", "MODEL_NAME"]
DIM_VEHICLE_COLS = ["VEHICLE_ID", "MODEL_NAME", "VARIANT", "EMISSION_STANDARD", "FUEL",
                    "COLOUR", "VEHICLE_CLASS", "MAKE_YEAR", "SEAT_CAPACITY", "IS_ELECTRIC"]


def from_bronze(oracle_sql: str, bronze_glob: str) -> str:
    """Rewrite a star oracle so its `raw` CTE reads the bronze CSVs
    instead of synthesizing rows from `orders`."""
    start = oracle_sql.index("main AS (")
    end = oracle_sql.index("ded AS (")
    raw = f"""raw AS (
      SELECT tempRegistrationNumber AS reg, CAST(slno AS BIGINT) AS slno,
        fromdate, todate, OfficeCd, makerName, modelDesc, fuel, makeYear,
        colour, vehicleClass, CAST(seatCapacity AS INTEGER) AS seat
      FROM read_csv('{bronze_glob}', header = true, all_varchar = true)),
    """
    return oracle_sql[:start] + raw + oracle_sql[end:]


def _digest(con, relation: str, cols, where: str = "") -> tuple:
    row = " || chr(31) || ".join(
        f"coalesce(CAST({c} AS VARCHAR), chr(0))" for c in cols)
    return con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})), 0) FROM {relation} {where}").fetchone()


def check_rta(inputs: str, etl_dir: str, oracle: dict) -> tuple:
    """([(check, ok, detail)], facts) for the last pass's outputs."""
    con = duckdb.connect()
    bronze = f"{inputs}/bronze/*.csv"
    fact_sql = from_bronze(oracle["q_star_fact"], bronze)
    dim_sql = from_bronze(oracle["q_star_dim_vehicle"], bronze)
    ctes = fact_sql[:fact_sql.rindex("SELECT VEHICLE_ID")]
    gold = f"{etl_dir}/gold"
    con.execute(f"CREATE VIEW fact AS SELECT * FROM read_parquet("
                f"'{gold}/fact_registrations/**/*.parquet', hive_partitioning = true)")
    con.execute(f"CREATE VIEW want_fact AS {fact_sql}")
    con.execute(f"CREATE VIEW want_dim AS {dim_sql}")
    con.execute(f"CREATE VIEW stage_got AS SELECT * FROM read_parquet("
                f"'{etl_dir}/stage/**/*.parquet', hive_partitioning = true)")
    out = []

    def count(sql):
        return con.execute(sql).fetchone()[0]

    landing = len(glob.glob(f"{etl_dir}/landing/*.csv"))
    planned = len(glob.glob(bronze))
    out.append(("landing_files", landing == planned, f"{landing} vs {planned}"))
    pairs = [
        ("stage_rows", "SELECT count(*) FROM stage_got", ctes + "SELECT count(*) FROM stage"),
        ("fact_rows", "SELECT count(*) FROM fact", "SELECT count(*) FROM want_fact"),
        ("dim_manufacturer_rows", f"SELECT count(*) FROM '{gold}/dim_manufacturer/*.parquet'",
         ctes + "SELECT count(DISTINCT MANUFACTURER_ID) FROM fin"),
        ("dim_rta_rows", f"SELECT count(*) FROM '{gold}/dim_rta/*.parquet'",
         ctes + "SELECT count(DISTINCT RTA_ID) FROM fin"),
    ]
    facts = {}
    for name, got_sql, want_sql in pairs:
        g, w = count(got_sql), count(want_sql)
        facts[name] = g
        out.append((name, g == w, f"{g} vs {w}"))
    off_slice = "WHERE SLNO % 13 <> 1"
    g, w = _digest(con, "fact", FACT_COLS, off_slice), _digest(con, "want_fact", FACT_COLS, off_slice)
    out.append(("fact_hash", g == w, f"{g[0]} rows hashed"))
    g = _digest(con, f"'{gold}/dim_vehicle/*.parquet'", DIM_VEHICLE_COLS)
    w = _digest(con, "want_dim", DIM_VEHICLE_COLS)
    out.append(("dim_vehicle_hash", g == w, f"{g[0]} vs {w[0]} rows"))
    facts["fuzzy_rows"] = count("SELECT count(*) FROM fact WHERE IS_FUZZY_MATCH")
    facts["files_written"] = sum(
        len(glob.glob(f"{etl_dir}/{d}/**/*.parquet", recursive=True)) for d in ("stage", "gold"))
    return out, facts
