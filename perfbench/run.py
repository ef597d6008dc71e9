"""Statement-level AQL benchmark of the graft engine.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the driver from source (cached in .bench_build),
generates the fixture tables once, writes the seeded statement plan, runs
the JVM driver, checks outputs (the driver's own checks, plus DuckDB for a
seeded sample of analytic statements), prints a report and, as its last
line, one JSON object with `correct`, `attempted`, `failed` and `metrics`.
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics of a traced run. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

OUT = build.OUT
# fresh databases built per run, by --trace: setup_s is their median; a
# traced run uses one each for the server, in-process untraced and traced
# phases
SETUPS = {0: 2, 1: 3}
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_cmd(classes, main_args):
    jars_dir, _ = build.spark_jars()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + opens
            + ["-cp", classes + os.pathsep + os.path.join(jars_dir, "*"), "perfbench.Driver"]
            + main_args)


def run_jvm(classes, main_args, workdir, log):
    """Run the driver; the whole Spark scratch space stays under workdir.
    The engine's own default puts shuffle scratch on /dev/shm when mounted;
    a run may write only inside its checkout, so here shuffles spill to
    workdir's filesystem instead (see README, "Differences from serving")."""
    env = dict(os.environ)
    env["GRAFT_EXTRA_CONF"] = (f"spark.local.dir={os.path.join(workdir, 'spark-local')};"
                               f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}")
    env.pop("GRAFT_PROFILE", None)
    with open(log, "w") as fh:
        p = subprocess.Popen(java_cmd(classes, main_args), cwd=workdir, env=env,
                             stdout=fh, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -9
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def duckdb_failures(plan, raw, data_dir):
    """Compare every captured analytic result with DuckDB on the same
    parquet. Returns a list of failure descriptions."""
    captures = raw.get("captures", [])
    if not captures:
        return []
    import duckdb
    con = duckdb.connect()
    for t in workloads.ANALYTIC_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failures = []
    for c in captures:
        step = plan["clients"][c["client"]]["steps"][c["step"]]
        want = [list(r) for r in con.execute(step["sql"]).fetchall()]
        if not same_result(want, c["rows"]):
            failures.append(f"{step['template']} step {c['step']}: duckdb {want[:3]} "
                            f"vs engine {c['rows'][:3]}")
    return failures


def _key(row):
    return [(0, "") if v is None else (1, float(v)) if isinstance(v, (int, float))
            else (2, str(v)) for v in row]


def same_result(a, b):
    """Equal as multisets of rows, numbers within a relative 1e-6."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(sorted(a, key=_key), sorted(b, key=_key)):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                if abs(x - y) > 1e-6 * max(1.0, abs(x), abs(y)):
                    return False
            elif (x is None) != (y is None) or (x is not None and str(x) != str(y)):
                return False
    return True


def end_to_end(plan, raw, report):
    read_cls, write_cls = workloads.ROLES[plan["workload"]]
    steps = raw["server"]["steps"]

    def ms(*classes):
        return [s["ms"] for s in steps if s["cls"] in classes]

    setup = metrics.median(raw["setup_s"])
    out = {
        "setup_s": raw["session_s"] + setup,
        # each client's closed-loop rate over its own measured window, summed
        "throughput_sps": sum(sum(s["statements"] for s in steps if s["client"] == i) / w
                              for i, w in enumerate(raw["server"]["client_s"])),
    }
    # every metric of the issue's table, by statement class, for the report
    for cls in ("point", "readback", "page", "commit", "search", "retrieval", "ingest"):
        v = ms(cls)
        if not v:
            continue
        report.append((f"{cls}_p50_ms", metrics.median(v), "ms", f"n={len(v)}"))
        t, p, n = metrics.tail(v)
        if t is not None and p >= 50:
            report.append((f"{cls}_tail_ms", t, "ms", f"p{p} of n={n}"))
    payload = {(ci, si): st.get("payload", 0) for ci, c in enumerate(plan["clients"])
               for si, st in enumerate(c["steps"])}
    written = sum(payload[(s["client"], s["step"])] for s in steps if s["ok"])
    if write_cls and written:
        report.append(("write_amp", (raw["db_bytes_after"] - raw["db_bytes_before"]) / written,
                       "ratio", f"{written} payload bytes"))
    out["read_p50_ms"] = metrics.median(ms(*read_cls))
    t, p, n = metrics.tail(ms(*read_cls))
    out["read_tail_ms"] = t
    report.append(("read_tail_ms", t, "ms", f"{'+'.join(read_cls)} p{p} of n={n}"))
    out["retained_heap_mb"] = raw["heap_mb"]
    report.append(("setup_s", out["setup_s"], "s",
                   f"session {raw['session_s']:.3f} + median of {raw['setup_s']}"))
    return out


E2E_UNITS = {"setup_s": "s", "throughput_sps": "stmt/s", "read_p50_ms": "ms",
             "read_tail_ms": "ms", "retained_heap_mb": "MB"}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classes = build.build()
    data_dir = datagen.ensure(os.path.join(OUT, "data"))
    workdir = os.path.join(OUT, "run", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    plan = workloads.make_plan(a.workload, a.seed, data_dir, SETUPS[a.trace])
    plan_file = os.path.join(workdir, "plan.json")
    with open(plan_file, "wb") as fh:
        fh.write(workloads.plan_bytes(plan))
    raw_file = os.path.join(workdir, "raw.json")
    log = os.path.join(workdir, "driver.log")
    rc = run_jvm(classes, ["--plan", plan_file, "--data", data_dir, "--work", workdir,
                           "--out", raw_file, "--seconds", str(a.seconds),
                           "--trace", str(a.trace), "--cores", str(os.cpu_count())],
                 workdir, log)
    if rc != 0 or not os.path.exists(raw_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: driver exited with {rc}")
    with open(raw_file) as fh:
        raw = json.load(fh)

    steps = raw["server"]["steps"]
    failures = [f"{s['cls']} step {s['step']} of client {s['client']}: {s['error']}"
                for s in steps if not s["ok"]]
    failures += duckdb_failures(plan, raw, data_dir)
    attempted = len(steps)
    if a.trace:
        for phase in ("inproc", "traced"):
            attempted += len(raw[phase]["steps"])
            failures += [f"{phase} {s['cls']} step {s['step']}: {s['error']}"
                         for s in raw[phase]["steps"] if not s["ok"]]
    report = [("failed_frac", len(failures) / attempted, "ratio",
               f"{len(failures)} of {attempted} checked operations")]
    if a.trace:
        read_cls, write_cls = workloads.ROLES[a.workload]
        values, gap, unattributed = metrics.per_layer(raw, read_cls, write_cls)
        report.append(("span_self_sum_gap_ms", gap, "ms", "max |sum of self times - wall|"))
        report.append(("unattributed_jobs", unattributed, "count", "jobs outside any span"))
        units = {k: metrics.unit(k) for k in values}
    else:
        values = end_to_end(plan, raw, report)
        units = E2E_UNITS
    for f in failures[:20]:
        print(f"FAILED {f}")
    for name, v, u, note in report:
        print(f"# {a.workload} {name} = {v} {u} ({note})")
    for name, v in values.items():
        print(f"# {a.workload} {name} = {v} {units[name]}")
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(result))
    # a failing run keeps its plan, raw records and log for inspection
    if not failures:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
