#!/usr/bin/env python3
"""The repo's benchmark. Builds the engine from source, makes seeded
inputs, runs one workload through the engine's public entry points on
`local[nproc]`, checks its outputs and prints the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        last stdout line: {"correct", "attempted", "failed", "metrics"};
        --trace 0 gives the end-to-end metrics, --trace 1 the per-layer ones.
    python3 perfbench/run.py --all --seed <n> [--seconds <s>] [--trace 1]
        every workload; one row of end-to-end metrics per workload, and
        with --trace 1 the per-layer tables and the tracing overhead.
        Exits non-zero if any output check fails.

Each run is one driver thread calling the engine in a closed loop with
one client. See perfbench/README.md for the workloads, the metrics and
how the layer metrics are expected to move the end-to-end ones.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["registry-sweep", "rta-etl"]
JVM_TIMEOUT_S = 160
HEAP = "2g"
# java.base packages Spark 4 needs opened on JDK 17 when started outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

FAMILIES = ["Core", "Join", "Text", "Vector", "Event", "Analytics", "Star", "Stream",
            "Graph", "Warehouse", "Stat", "Similarity"]
ETL_OPS = ["sources.ingest", "pipeline.etl1", "pipeline.etl2"]
# per-op counter → per-layer metric, summed over a pass
LAYER_SUMS = [
    ("entry.conf_keys_changed", "conf_keys_changed", "count"),
    ("entry.cached_rdds_left", "cached_rdds_left", "count"),
    ("queries.build_s", "build_s", "s"),
    ("queries.build_jobs", "build_jobs", "count"),
    ("queries.action_s", "action_s", "s"),
    ("catalyst.analysis_s", "analysis_s", "s"),
    ("catalyst.optimization_s", "optimization_s", "s"),
    ("catalyst.planning_s", "planning_s", "s"),
    ("codegen.compile_s", "codegen_s", "s"),
    ("codegen.compilations", "codegen_n", "count"),
    ("scheduler.jobs", "jobs", "count"),
    ("scheduler.stages", "stages", "count"),
    ("scheduler.tasks", "tasks", "count"),
    ("scheduler.jobs_union_s", "jobs_union_s", "s"),
    ("scheduler.task_failures", "task_failures", "count"),
    ("driver.gap_s", "gap_s", "s"),
    ("executor.cpu_s", "cpu_s", "s"),
    ("executor.run_s", "run_s", "s"),
    ("executor.gc_s", "gc_s", "s"),
    ("shuffle.read_bytes", "shuffle_read_bytes", "bytes"),
    ("shuffle.write_bytes", "shuffle_write_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "fetch_wait_s", "s"),
    ("spill.disk_bytes", "spill_bytes", "bytes"),
    ("io.input_bytes", "input_bytes", "bytes"),
    ("io.output_bytes", "output_bytes", "bytes"),
    ("io.output_rows", "output_rows", "count"),
]
ETL_FIELDS = [("wall_s", "wall_s", "s"), ("jobs", "jobs", "count"), ("cpu_s", "cpu_s", "s"),
              ("gap_s", "gap_s", "s"), ("shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
              ("output_bytes", "output_dir_bytes", "bytes")]


def spec(kind: str) -> list:
    """(name, unit) of the `end_to_end` or `per_layer` metrics of
    BENCHMARK.json, which is what a run prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


class Run:
    """One launch of the harness JVM for one workload and seed."""

    def __init__(self, build_dir: str, classpath: str, workload: str, seed: int,
                 seconds: float, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.build_dir, self.classpath, self.seconds = build_dir, classpath, seconds
        self.dir = os.path.join(build_dir, "runs", f"{workload}-seed{seed}-trace{int(trace)}")

    def star_oracle(self) -> str:
        """q_star_fact oracle SQL, from the engine (for the rta-etl bronze)."""
        out = os.path.join(self.build_dir, "oracle")
        path = os.path.join(out, "oracle_sql.json")
        if not os.path.isfile(path):
            self.jvm("oracle", out, {})
        return json.load(open(path))["q_star_fact"]

    def jvm(self, mode: str, out: str, extra: dict) -> None:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, "tmp"))
        env = dict(os.environ, GRAFT_STAGING_DIR=os.path.join(out, "staging"),
                   GRAFT_STREAM_SCRATCH=os.path.join(out, "stream"))
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        args = {"out": out, "cores": nproc(), "fixture": gen.FIXTURE, **extra}
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={out}/tmp"] + opens +
               ["-cp", self.classpath, "org.apache.spark.sql.perfbench.Harness", mode] +
               [f"{k}={v}" for k, v in args.items()])
        with open(os.path.join(out, "harness.log"), "w") as log:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                               timeout=JVM_TIMEOUT_S, cwd=out)
        if r.returncode != 0:
            raise RuntimeError(f"harness {mode} exited {r.returncode}; see {out}/harness.log")

    def execute(self) -> dict:
        inputs = gen.ensure(self.workload, self.seed, os.path.join(self.build_dir, "inputs"),
                            self.star_oracle)
        host = {"nproc": nproc(), "loadavg_start": loadavg()}
        self.jvm("run", self.dir, {"workload": self.workload,
                                   "seconds": self.seconds, "trace": int(self.trace),
                                   "inputs": inputs})
        host["loadavg_end"] = loadavg()
        res = json.load(open(os.path.join(self.dir, "result.json")))
        oracle = json.load(open(os.path.join(self.dir, "oracle_sql.json")))
        host.update(calib_ms_start=res["calib_ms_start"], calib_ms_end=res["calib_ms_end"])
        facts = {}
        if self.workload == "rta-etl":
            checks, facts = check.check_rta(inputs, os.path.join(self.dir, "etl"), oracle)
            facts["bronze_bytes"] = sum(
                os.path.getsize(os.path.join(inputs, "bronze", f))
                for f in os.listdir(os.path.join(inputs, "bronze")))
        else:
            names = sorted({o["name"] for o in res["ops"]})
            checks = check.check_queries(inputs, os.path.join(self.dir, "check"), names, oracle,
                                         os.path.join(self.build_dir, "oracle-cache"))
        spans = None
        if self.trace:
            spans = json.load(open(os.path.join(self.dir, "spans.json")))
        self.cleanup()
        return {"result": res, "checks": checks, "facts": facts, "host": host, "spans": spans}

    def cleanup(self) -> None:
        """Keep the run's small records; drop its data."""
        for name in os.listdir(self.dir):
            p = os.path.join(self.dir, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)


def timed(res: dict) -> list:
    """The ops of the timed passes (rta-etl's first passes only warm up)."""
    return [o for o in res["ops"] if o["pass"] >= res["first_timed_pass"]]


def passes(ops) -> list:
    by = {}
    for o in ops:
        by.setdefault(o["pass"], []).append(o)
    return [by[k] for k in sorted(by)]


def end_to_end(rec: dict) -> dict:
    res = rec["result"]
    ops = timed(res)
    walls = [o["wall_s"] for o in ops]
    return {
        "setup_s": res["setup_s"],
        "wall_s": median([sum(o["wall_s"] for o in p) for p in passes(ops)]),
        "query_geomean_s": statistics.geometric_mean(walls),
        "query_p50_s": median(walls),
        "query_p90_s": percentile(walls, 0.9),
        "peak_rss_mb": res["peak_rss_mb"],
        "n_ops": len(ops),
        "n_passes": len(passes(ops)),
    }


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur = 0, None
    for a, b in sorted((max(lo, a), min(hi, b)) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            total += cur[1] - cur[0] if cur else 0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0)


def add_job_union(ops) -> None:
    """Per traced op: `jobs_union_s`, the union of its job intervals, and
    `gap_s`, the rest of its wall time."""
    for o in ops:
        union = covered([(a * 1000, b * 1000) for a, b in o["job_intervals_ms"]],
                        o["start_us"], o["end_us"]) / 1e6
        o["jobs_union_s"], o["gap_s"] = union, o["wall_s"] - union


def self_times(spans) -> dict:
    """Summed self time per span kind: a span's duration minus the part
    of it that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        own = (b - a) - covered(kids.get(s["id"], []), a, b)
        out[s["kind"]] = out.get(s["kind"], 0.0) + max(0, own) / 1e6
    return out


def per_layer(rec: dict) -> dict:
    res = rec["result"]
    ops = timed(res)
    ps = passes(ops)
    m = {name: 0.0 for name, _ in spec("per_layer")}
    m["entry.registry_init_s"] = res["registry_init_s"]

    def med_sum(pred, field):
        return median([sum(o[field] for o in p if pred(o)) for p in ps])

    for name, field, _ in LAYER_SUMS:
        m[name] = med_sum(lambda o: True, field)
    union, run = m["scheduler.jobs_union_s"], m["executor.run_s"]
    m["scheduler.slot_util"] = run / (union * res["cores"]) if union > 0 else 0.0
    m["trace.wall_s"] = end_to_end(rec)["wall_s"]
    fam = res["families"]
    for f in FAMILIES:
        m[f"family.{f}.wall_s"] = med_sum(lambda o: fam.get(o["name"]) == f, "wall_s")
        m[f"family.{f}.gap_s"] = med_sum(lambda o: fam.get(o["name"]) == f, "gap_s")
    for name in m:
        if name.startswith("query."):
            q, field = name[len("query."):].rsplit(".", 1)
            m[name] = med_sum(lambda o: o["name"] == q, field)
    for op in ETL_OPS:
        for k, field, _ in ETL_FIELDS:
            m[f"{op}.{k}"] = med_sum(lambda o: o["name"] == op, field)
    if rec["facts"]:
        def write_s(p, prefix):
            return sum(w["s"] for o in p if o["name"] == "pipeline.etl2"
                       for w in o["writes"] if os.path.basename(w["path"]).startswith(prefix))
        m["pipeline.etl2.fact_write_s"] = median([write_s(p, "fact_") for p in ps])
        m["pipeline.etl2.dims_write_s"] = median([write_s(p, "dim_") for p in ps])
        f = rec["facts"]
        m["pipeline.stage_rows"] = f["stage_rows"]
        m["pipeline.fact_rows"] = f["fact_rows"]
        m["pipeline.fuzzy_rows"] = f["fuzzy_rows"]
        m["pipeline.files_written"] = f["files_written"]
        last = {o["name"]: o for o in ps[-1]}
        written = sum(last[o]["output_dir_bytes"] for o in ("pipeline.etl1", "pipeline.etl2")
                      if o in last)
        m["pipeline.write_amp"] = written / f["bronze_bytes"]
    return m


def run_one(build_dir, classpath, workload, seed, seconds, trace) -> dict:
    rec = Run(build_dir, classpath, workload, seed, seconds, trace).execute()
    ops = rec["result"]["ops"]
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in rec["checks"] if not c[1])
    rec["attempted"] = len(ops) + len(rec["checks"])
    rec["failed"] = failed
    rec["e2e"] = end_to_end(rec)
    if trace:
        add_job_union(ops)
        rec["layers"] = per_layer(rec)
        rec["self_s"] = self_times(rec["spans"])
        trace_dir = os.path.join(build_dir, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        base = os.path.join(trace_dir, f"{workload}-seed{seed}")
        with open(base + "-spans.json", "w") as f:
            json.dump(rec["spans"], f)
        with open(base + "-layers.json", "w") as f:
            json.dump({"layers": rec["layers"], "self_s": rec["self_s"],
                       "ops": ops, "checks": rec["checks"], "host": rec["host"]}, f, indent=1)
    return rec


def report_checks(rec, out=sys.stderr) -> None:
    for name, ok, detail in rec["checks"]:
        if not ok:
            print(f"[perfbench] check FAILED {name}: {detail}", file=out)
    for o in rec["result"]["ops"]:
        if not o["ok"]:
            print(f"[perfbench] op FAILED {o['name']} (pass {o['pass']})", file=out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        classpath = build.build(build_dir)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    if not a.all:
        try:
            rec = run_one(build_dir, classpath, a.workload, a.seed, a.seconds, bool(a.trace))
        except (RuntimeError, OSError, subprocess.SubprocessError, KeyError, ValueError) as e:
            print(f"[perfbench] run failed: {e}", file=sys.stderr)
            return 3
        report_checks(rec)
        print("host " + json.dumps(rec["host"]))
        if a.trace:
            units = dict(spec("per_layer"))
            metrics = {k: {"value": v, "unit": units[k]} for k, v in rec["layers"].items()}
        else:
            units = dict(spec("end_to_end"))
            metrics = {k: {"value": rec["e2e"][k], "unit": u} for k, u in units.items()}
        print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                          "failed": rec["failed"], "metrics": metrics}))
        return 0

    return run_all(build_dir, classpath, a.seed, a.seconds, bool(a.trace))


def run_all(build_dir, classpath, seed, seconds, trace) -> int:
    rows, traced = [], {}
    any_failed = False
    for w in WORKLOADS:
        rec = run_one(build_dir, classpath, w, seed, seconds, False)
        report_checks(rec, sys.stdout)
        any_failed |= rec["failed"] > 0
        rows.append((w, rec))
        if trace:
            traced[w] = run_one(build_dir, classpath, w, seed, seconds, True)
            any_failed |= traced[w]["failed"] > 0
    print(f"seed {seed}, local[{nproc()}], one client in a closed loop")
    print(f"{'workload':<16}{'setup_s':>9}{'wall_s':>9}{'geomean_s':>11}{'p50_s':>9}{'p90_s':>9}"
          f"{'peak_rss_mb':>13}{'failed_frac':>13}  samples")
    for w, rec in rows:
        e = rec["e2e"]
        p90 = f"{e['query_p90_s']:9.3f}" if w == "registry-sweep" else f"{'n/a':>9}"
        print(f"{w:<16}{e['setup_s']:9.2f}{e['wall_s']:9.2f}{e['query_geomean_s']:11.3f}"
              f"{e['query_p50_s']:9.3f}{p90}{e['peak_rss_mb']:13.0f}"
              f"{rec['failed'] / rec['attempted']:13.3f}"
              f"  {e['n_ops']} calls in {e['n_passes']} timed pass(es)")
    print("units: s, except peak_rss_mb (MB) and failed_frac (failed / attempted calls and checks);"
          " geomean/p50/p90 are per engine call (query_*_s); rta-etl has no p90 (3 calls a pass)")
    for w, rec in rows:
        print(f"host {w}: " + json.dumps(rec["host"]))
    for w, rec in traced.items():
        e, base = rec["e2e"], dict(rows)[w]["e2e"]
        print(f"\n[{w}] traced wall_s {e['wall_s']:.3f} s, tracing overhead "
              f"{e['wall_s'] - base['wall_s']:+.3f} s; span file "
              f"{os.path.join(build_dir, 'trace', f'{w}-seed{seed}-spans.json')}")
        units = dict(spec("per_layer"))
        for k, v in rec["layers"].items():
            if v:
                print(f"  {k:<44}{v:>16.4f} {units[k]}")
        for k, v in sorted(rec["self_s"].items()):
            print(f"  self.{k + '_s':<39}{v:>16.4f} s")
    return 1 if any_failed else 0


if __name__ == "__main__":
    sys.exit(main())
