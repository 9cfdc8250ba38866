#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (offline) into the build directories and reuses that build
while no source file changes. The JVM side (perfbench.Main) runs the workload
and writes a raw result; this script checks TPC-H outputs against the
registry's DuckDB oracle, prints a readable report, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json, with
--trace 1 the per_layer metrics. Any failed check exits 1.
"""
import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 850.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no program sources here ({need} missing); run from a checkout of the repo")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export perfbench/Runtime/fullClasspath"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}", 1)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or "perfbench" not in cp or ":" not in cp:
        die(f"build failed; see {log}", 1)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def tpch_data(scale):
    """Seeded TPC-H-shaped tables, generated once per checkout and scale."""
    d = os.path.join(WORK, "data", f"tpch-sf{scale}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tpch.py"), d, str(scale)],
                       check=True, timeout=300)
    return d


def check_tpch(out_dir, data_dir):
    """Compares every dumped query result with the registry's oracle SQL run by
    DuckDB over the same tables: columns, row count and sorted values, with
    dtypes, as tools/check.py does. Returns the names that failed."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df() if files else None
            exp = con.sql(sql).df()
            if got is None:
                raise AssertionError("no output")
            got = got.reindex(sorted(got.columns), axis=1)
            exp = exp.reindex(sorted(exp.columns), axis=1)
            assert list(got.columns) == list(exp.columns), "columns differ"
            assert len(got) == len(exp), f"rows {len(got)} != {len(exp)}"
            gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
            es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
            pd.testing.assert_frame_equal(gs, es, check_dtype=True, check_exact=True)
        except Exception as e:  # any mismatch or oracle error fails the query
            print(f"perfbench: {name} differs from its oracle: {str(e)[:300]}", file=sys.stderr)
            bad.append(name)
    return bad


def run_jvm(cp, args, tiny, broken, data_dir, started):
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Default tiered compilation (C1 then C2), as the program runs anywhere;
    # each workload's warm-up is sized so the hot code reaches C2 before the
    # measured window.
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            f"-Dderby.system.home={work}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--tiny", "1" if tiny else "0", "--break", "1" if broken else "0"]
    if data_dir:
        cmd += ["--data", data_dir]
    log = os.path.join(WORK, "jvm.log")
    left = RUN_LIMIT_S - (time.monotonic() - started)
    host0, cpu0, t0 = host_cpu_s(), children_cpu_s(), time.monotonic()
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10.0, left))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{args.workload} timed out; see {log}", 1)
    res = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        with open(log) as f:
            tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][:5]
        die(f"{args.workload} failed (exit {p.returncode}): {' | '.join(tail)}; see {log}", 1)
    with open(res) as f:
        raw = json.load(f)
    wall = time.monotonic() - t0
    own = (children_cpu_s() - cpu0) / wall
    busy, stolen = ((b - a) / wall for a, b in zip(host0, host_cpu_s()))
    # context for noise: neighbours' load and hypervisor steal slow every timing
    raw["notes"].append(f"host: {busy:.2f} cores busy during the run, {own:.2f} of them "
                        f"this run's JVM; {stolen:.2f} cores stolen by the hypervisor")
    return raw, work


def host_cpu_s():
    """(busy, stolen) CPU seconds of the whole host so far (/proc/stat)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        hz = os.sysconf("SC_CLK_TCK")
        return (sum(v) - v[3] - v[4] - v[7]) / hz, v[7] / hz
    except (OSError, ValueError, IndexError):
        return 0.0, 0.0


def children_cpu_s():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def exercised(workload, name):
    """Whether a per-layer metric belongs to a layer this workload runs."""
    # the traced run of tpch_batch also measures the curation chain
    own = {"wordcount_stream": ("wc.",),
           "tpch_batch": ("tpch.", "plan.", "scan.", "curate.")}[workload]
    return name.startswith(own + ("exec.", "shuffle.", "spill.", "host.", "trace."))


def run_once(args, tiny=False, broken=False):
    cp = build()
    started = time.monotonic()
    data = tpch_data(0.001 if tiny else 0.01) if args.workload == "tpch_batch" else None
    raw, work = run_jvm(cp, args, tiny, broken, data, started)
    attempted, failed = int(raw["attempted"]), int(raw["failed"])
    if args.workload == "tpch_batch":
        bad = check_tpch(os.path.join(work, "oracle"), data)
        # a query that differs from its oracle fails every one of its runs
        failed += sum(int(raw["report"].get(f"runs.{q}", {"value": 1})["value"]) for q in bad)
    spec = bench_spec()
    key, section = ("layers", "per_layer") if args.trace else ("e2e", "end_to_end")
    metrics, missing = {}, []
    for m in spec[section]:
        got = raw[key].get(m["name"])
        if got is None:
            if args.trace and not exercised(args.workload, m["name"]):
                got = {"value": 0, "unit": m["unit"], "samples": 0}  # layer not run here
            else:
                missing.append(m["name"])
                continue
        if got["unit"] != m["unit"]:
            die(f"{m['name']} reported in {got['unit']}, declared {m['unit']}", 1)
        metrics[m["name"]] = got
    if missing:
        die(f"{args.workload} did not report {missing}", 1)
    frac = failed / max(1, attempted)
    print(f"# {args.workload} seed={args.seed} attempted={attempted} failed={failed} "
          f"failed_frac={frac:.6g}")
    for name, m in sorted(raw["report"].items()):
        if not name.startswith("runs."):
            print(f"#   {name} = {m['value']:.6g} {m['unit']} (n={m['samples']})")
    for name, m in metrics.items():
        print(f"#   {name} = {m['value']:.6g} {m['unit']} (n={m['samples']})")
    for note in raw.get("notes", []):
        print(f"#   note: {note}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}
    return result, raw


def selftest():
    """Tiny-size pass over every workload: every declared metric prints with
    its unit, and a deliberately broken output raises failed_frac."""
    spec = bench_spec()
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            a = argparse.Namespace(workload=w, seed=7, seconds=2, trace=trace)
            res, raw = run_once(a, tiny=True)
            section = "per_layer" if trace else "end_to_end"
            for m in spec[section]:
                if m["name"] not in res["metrics"]:
                    problems.append(f"{w} trace={trace}: {m['name']} missing")
                elif trace and exercised(w, m["name"]) and m["name"] not in raw["layers"]:
                    problems.append(f"{w}: layer metric {m['name']} not measured")
            if not res["correct"]:
                problems.append(f"{w} trace={trace}: {res['failed']} failed operations")
        # traced, so that the curation chain tpch_batch traces is broken too
        a = argparse.Namespace(workload=w, seed=7, seconds=2, trace=1)
        res, raw = run_once(a, tiny=True, broken=True)
        if res["failed"] == 0:
            problems.append(f"{w}: a broken output was not caught")
        if w == "tpch_batch" and not any(n.startswith("curate:") for n in raw["notes"]):
            problems.append(f"{w}: a broken curation output was not caught")
    for p in problems:
        print(f"selftest: {p}")
    print("selftest: " + ("FAILED" if problems else "ok"))
    sys.exit(1 if problems else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
    if not args.workload:
        die("--workload is required")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found at the checkout root")
    if args.workload not in [w["name"] for w in bench_spec()["workloads"]]:
        die(f"unknown workload {args.workload}")
    result, _ = run_once(args)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
