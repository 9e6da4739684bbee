#!/usr/bin/env python3
"""Layered benchmark for the graft engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first call builds the engine and the
benchmark with sbt (perfbench/build.sbt) into `.bench_build/`; later calls
reuse that build while the sources are unchanged. The run itself is one
JVM (perfbench/src/main/scala/graftbench/Main.scala); this script then
finishes the DuckDB output checks and prints, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with `--trace 0`, the per-layer
metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["retail_etl", "curation", "lakehouse"]
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def stop_group(p):
    """Kill what is left of a child's process group and wait for the child."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def sbt(*tasks):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    p = subprocess.Popen(["sbt", "--batch", *opts, *tasks], cwd=BENCH, env=env,
                         stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate()
    finally:
        stop_group(p)
    return subprocess.CompletedProcess(p.args, p.returncode, out, err)


def classpath():
    """Build once per source stamp; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "classpath.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(STATE, exist_ok=True)
    r = sbt("export Runtime/fullClasspath")
    lines = [l for l in r.stdout.splitlines() if l.startswith("/")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, args, work, out):
    tmp = os.path.join(STATE, "tmp")
    cwd = os.path.join(STATE, "run")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in (tmp, cwd):
        os.makedirs(d, exist_ok=True)
    # Two task threads leave the other cores to the driver thread, the JIT
    # and the GC. At local[4] on a four-core VM the lakehouse pass took
    # 5.1 s against 4.0 s, and its spread over five seeds was 0.10 against
    # 0.04.
    cpus = str(max(1, min(2, os.cpu_count() or 1)))
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms1g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", ROOT, "--work", work, "--out", out, "--cpus", cpus]
    log = open(os.path.join(out, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        # Also when this script is stopped: the JVM and whatever it started
        # go with it, and are waited for.
        stop_group(p)
        log.close()
    return rc, cpus


# ---- output checks done in DuckDB ----------------------------------------

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def rows_of(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, [tuple(norm(r[i]) for i in idx) for r in rel.fetchall()]


def quantum(v):
    """One unit in the last decimal place that repr shows."""
    r = repr(v)
    if "e" in r or "." not in r:
        return 0.0
    return 10.0 ** -len(r.split(".")[1])


def close(a, b):
    """Equal, or for floats one unit apart in the last shown decimal."""
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= min(quantum(a), quantum(b)) * 1.000001
    return a == b


def duck_check(con, p):
    """One pending check: returns (ok, expected_rows, matched_rows).

    Rows match exactly. When the oracle rounds, a row that differs only
    by one unit in a rounded float's last digit also matches: engine and
    oracle sum in different orders, so a value that lands on a rounding
    tie (an average of cents over 12,000 rows does) may round either way.
    """
    for t, path in p.get("tables", {}).items():
        if path.endswith(".csv"):
            src = f"read_csv('{path}', header=true, all_varchar=true)"
        else:
            src = f"read_parquet('{path}')"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")
    gc, got = rows_of(con.sql(f"SELECT * FROM read_parquet('{p['got']}/*.parquet')"))
    if not p["sql"]:
        exp_n = int(p["expected_rows"])
        return len(got) == exp_n, exp_n, min(len(got), exp_n)
    ec, exp = rows_of(con.sql(p["sql"]))
    if gc != ec:
        return False, len(exp), 0
    remaining = {}
    for r in exp:
        remaining.setdefault(repr(r), []).append(r)
    extra = []
    for r in got:
        if remaining.get(repr(r)):
            remaining[repr(r)].pop()
        else:
            extra.append(r)
    missing = [r for rs in remaining.values() for r in rs]
    if "ROUND(" in p["sql"].upper():
        for r in list(extra):
            hit = next((m for m in missing
                        if all(close(a, b) for a, b in zip(r, m))), None)
            if hit is not None:
                missing.remove(hit)
                extra.remove(r)
    if extra or missing:
        print(f"check {p['name']}: columns {gc}", file=sys.stderr)
        for r in extra[:3]:
            print(f"  got only: {repr(r)[:300]}", file=sys.stderr)
        for r in missing[:3]:
            print(f"  expected only: {repr(r)[:300]}", file=sys.stderr)
    matched = len(got) - len(extra)
    return not extra and not missing, len(exp), matched


def finish_checks(res):
    checks = list(res["checks"])
    if res["pending"]:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit = '1GB'")
        con.execute(f"SET temp_directory = '{os.path.join(STATE, 'duckdb_tmp')}'")
        for p in res["pending"]:
            try:
                ok, exp, matched = duck_check(con, p)
            except Exception as e:  # a check that cannot run is a failure
                print(f"check {p['name']}: {e}", file=sys.stderr)
                ok, exp, matched = False, 1, 0
            checks.append({"name": p["name"], "ok": ok, "expected": exp,
                           "matched": matched})
    return checks


# ---- result ----------------------------------------------------------------

def summarize(res, checks, trace, spec):
    """Fold the output checks into the counts and build the metric map:
    a mismatching check is a failed operation."""
    bad = sum(1 for c in checks if not c["ok"])
    attempted = int(res["attempted"]) + len(checks)
    failed = int(res["failed"]) + bad
    m = dict(res["metrics"])
    if not trace:
        expected = sum(c["expected"] for c in checks)
        m["ops_ok_frac"] = 1.0 - failed / attempted
        m["outputs_ok_frac"] = (len(checks) - bad) / len(checks) if checks else 1.0
        m["recall"] = sum(c["matched"] for c in checks) / expected if expected else 1.0
        wanted = spec["end_to_end"]
    else:
        for k, v in res["named"].items():
            m.setdefault(k, v)
        wanted = spec["per_layer"]
    metrics = {w["name"]: {"value": float(m.get(w["name"]) or 0.0), "unit": w["unit"]}
               for w in wanted}
    return attempted, failed, metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, through the cleanup of each child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed on PATH")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    cp = classpath()
    work = os.path.join(STATE, "work", args.workload)
    out = os.path.join(STATE, "out", args.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    rc, cpus = run_jvm(cp, args, work, out)
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write(open(os.path.join(out, "jvm.log")).read()[-6000:])
        for d in (work, os.path.join(STATE, "tmp")):
            shutil.rmtree(d, ignore_errors=True)
        fail(f"workload run failed (rc={rc}) after {time.time() - t0:.0f}s")
    res = json.load(open(res_path))
    checks = finish_checks(res)
    for d in (work, os.path.join(STATE, "tmp"), os.path.join(STATE, "duckdb_tmp")):
        shutil.rmtree(d, ignore_errors=True)

    attempted, failed, metrics = summarize(res, checks, args.trace, spec)

    rollup = {"workload": args.workload, "seed": args.seed, "cpus": int(cpus),
              "trace": args.trace, "passes": res["passes"],
              "op_samples": res["op_samples"], "op_tail": res["op_tail"],
              "setup_parts": res["setup_parts"], "named": res["named"],
              "checks": checks, "errors": res["errors"], "metrics": metrics}
    with open(os.path.join(out, "rollup.json"), "w") as f:
        json.dump(rollup, f, indent=1)

    tail = res["op_tail"]
    tail = f"p{tail['pct']:g}={tail['s']:.4f}s" if tail else "none (<20 samples)"
    print(f"# {args.workload} seed={args.seed} local[{cpus}] trace={args.trace} "
          f"passes={res['passes']} op_samples={res['op_samples']} op_tail={tail}")
    for k, v in sorted(res["named"].items()):
        print(f"#   {k:<28} {v}")
    for c in checks:
        print(f"#   check {c['name']:<34} {'ok' if c['ok'] else 'MISMATCH'} "
              f"{c['matched']}/{c['expected']}")
    for e in res["errors"]:
        print(f"#   error {e}")
    for k, v in metrics.items():
        if v["value"]:
            print(f"#   {k:<28} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
