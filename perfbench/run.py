#!/usr/bin/env python3
"""Replication-and-query benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(src/main/scala) and the harness (perfbench/harness) with the Scala
compiler shipped in the Spark jars, into $CARGO_TARGET_DIR or
.bench_build; later runs reuse the build while the sources are unchanged.
Then it stages seeded inputs under .bench_work, starts a private
PostgreSQL for repl_pg, runs one closed-loop client for --seconds, checks
every output, stops what it started, and prints one JSON line. Exit code
0 only when every output was correct. Workloads and metrics are described
in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import fixtures  # noqa: E402
import pgserver  # noqa: E402

ROOT = os.path.dirname(HERE)
# The TPC-H-ish corpus of graft.Bench, at the scales TESTDATA.md lists.
# sql_tpch reads sf0.1, where the lineitem-orders joins shuffle. iter_ops
# reads sf0.01 (500 embeddings): its loop costs jobs x per-job floor at any
# scale, and the DuckDB replay of the loop oracles at sf0.1 takes 14 s a run.
CORPUS = {"sql_tpch": ("0.1", ["region", "nation", "customer", "supplier", "part",
                               "orders", "lineitem"]),
          "iter_ops": ("0.01", ["embeddings"])}
CPUS = min(4, os.cpu_count() or 1)
WORKLOADS = ["repl_pg", "repl_jdbc", "sql_tpch", "iter_ops"]

# Replication sizes: (base rows, delta sets per pass, rows per delta).
# repl_pg's table and index (152 MB) are larger than PostgreSQL's default
# 128 MB shared_buffers; repl_jdbc's (~16 MB on disk) is larger than Derby's
# default 1000-page (4 MB) page cache.
REPL_SIZES = {"repl_pg": (1_000_000, 3, 12_000), "repl_jdbc": (60_000, 3, 3_000)}
UPDATE_SHARE = 0.5

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

def repo_setting(path, pattern):
    """A value the repository declares in one of its own files."""
    m = re.search(pattern, open(os.path.join(ROOT, path)).read())
    if not m:
        raise RuntimeError(f"{path} does not declare {pattern}")
    return m.group(1)


def spark_jars():
    """The Spark jars (with the Scala compiler) that build.sbt compiles against."""
    return os.path.join(repo_setting("build.sbt", r'unmanagedBase := file\("([^"]+)"\)'), "*")


def corpus_dir(scale):
    return repo_setting("TESTDATA.md", r"\| " + re.escape(scale) + r" \| `([^`]+?)/?`")


def scalac(out, classpath, sources):
    os.makedirs(out, exist_ok=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", classpath] + sources,
                       capture_output=True, text=True)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build():
    """Compile the program and the harness once per source hash."""
    main_src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not main_src:
        raise RuntimeError(f"no program sources under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(p.encode())
        h.update(open(p, "rb").read())
    top = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(top, h.hexdigest()[:16])
    main_cls, bench_cls = os.path.join(out, "main"), os.path.join(out, "bench")
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(top, ignore_errors=True)
        scalac(main_cls, spark_jars(), main_src)
        scalac(bench_cls, f"{main_cls}:{spark_jars()}", bench_src)
        open(os.path.join(out, "done"), "w").close()
    return f"{bench_cls}:{main_cls}:{spark_jars()}"


def run_harness(classpath, props, work, timeout):
    path = os.path.join(work, "harness.properties")
    with open(path, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed young generation and no adaptive sizing: the heap then grows
    # only as live data is promoted, so the peak RSS repeats from run to run.
    cmd = (["java", "-Xms1g", "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-Xss8m"] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", classpath, "perfbench.Harness", path])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(props["out"]):
        tail = open(os.path.join(work, "harness.log"), errors="replace").read()[-3000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")
    return json.load(open(props["out"]))


def stage(workload, seed, work, server):
    """Inputs and harness settings of one workload."""
    props = {"workload": workload, "seed": seed, "cpus": CPUS}
    if workload in REPL_SIZES:
        rows, n_deltas, delta_rows = REPL_SIZES[workload]
        upper = workload == "repl_jdbc"
        base, deltas = fixtures.replication(os.path.join(work, "in"), seed, rows, n_deltas,
                                            delta_rows, UPDATE_SHARE, CPUS, upper)
        props.update(base=base, deltas=",".join(deltas), base_rows=rows, delta_rows=delta_rows,
                     final_rows=rows + n_deltas * (delta_rows - round(delta_rows * UPDATE_SHARE)),
                     extract_dir=os.path.join(work, "extract"),
                     sink_dump=os.path.join(work, "sink.csv"))
        if workload == "repl_pg":
            server.start()
            server.psql(fixtures.ddl("pg", "li", upper))
            props.update(pg_url="jdbc:postgresql://localhost/postgres", pg_user=server.user,
                         pg_socket=server.socket, pg_base=server.base,
                         psql=pgserver._bin("psql"),
                         pg_runuser=int(os.geteuid() == 0))
        else:
            props.update(jdbc_url=f"jdbc:derby:{os.path.join(work, 'derby')};create=true",
                         ddl=fixtures.ddl("derby", "LI", upper))
    else:
        scale, tables = CORPUS[workload]
        props.update(corpus=fixtures.corpus(corpus_dir(scale), os.path.join(work, "corpus"),
                                            tables, seed),
                     results_dir=os.path.join(work, "results"))
    return props


def verify(workload, props, server):
    """Returns (outputs checked, problems found)."""
    if workload in REPL_SIZES:
        if workload == "repl_pg":
            server.copy_out_csv("li", props["sink_dump"])
        return 2, check.replication(props["base"], props["deltas"].split(","),
                                    workload == "repl_jdbc", props["sink_dump"],
                                    props["extract_dir"])
    return check.queries(props["corpus"], props["results_dir"])


def summarize(rec, setup_s, trace):
    """Every metric BENCHMARK.json lists for this kind of run, with its unit."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if trace:
        wanted = spec["per_layer"]
        unknown = set(rec["layers"]) - {m["name"] for m in wanted}
        if unknown:
            raise RuntimeError(f"harness reported unlisted metrics {sorted(unknown)}")
        # a layer the workload does not touch reads 0
        values = {m["name"]: rec["layers"].get(m["name"], 0.0) for m in wanted}
    else:
        passes = [p for p in rec["passes"] if not p["traced"]]
        # the repeated operation: an incremental sync, or one query
        rep = [o["wall_s"] for p in passes for o in p["ops"] if o["kind"] in ("sync", "query")]
        values = {"setup_s": setup_s, "rss_peak_mb": rec["rss_peak_mb"],
                  "pass_s": statistics.median(p["wall_s"] for p in passes),
                  "op_s": statistics.median(rep)}
        wanted = spec["end_to_end"]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build()
    t0 = time.time()
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    server = pgserver.Server() if a.workload == "repl_pg" else None
    try:
        props = stage(a.workload, a.seed, work, server)
        log(f"staged in {time.time() - t0:.1f} s")
        props.update(seconds=a.seconds, trace=a.trace,
                     out=os.path.join(ROOT, ".bench_work", f"record_{a.workload}.json"),
                     trace_out=os.path.join(ROOT, ".bench_work", f"trace_{a.workload}.json"))
        rec = run_harness(classpath, props, work, timeout=170 - (time.time() - t0))
        setup_s = rec["ready_ms"] / 1e3 - t0
        t1 = time.time()
        log(f"harness done {t1 - t0:.1f} s after start, ready after {setup_s:.1f} s")
        checked, problems = verify(a.workload, props, server)
        log(f"checked in {time.time() - t1:.1f} s")
    finally:
        if server:
            server.stop()
    errors = [e for e in rec["errors"].splitlines() if e]
    for e in errors + problems:
        log(e)
    # every timed operation, plus every output checked against its reference
    attempted = sum(len(p["ops"]) for p in rec["passes"]) + checked
    failed = min(attempted, rec["failures"] + len(problems))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": summarize(rec, setup_s, a.trace)}))
    shutil.move(os.path.join(work, "harness.log"),
                os.path.join(ROOT, ".bench_work", f"harness_{a.workload}.log"))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    # a termination signal unwinds like an error, so the JVM and the
    # PostgreSQL server are stopped on this path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # a failed build, set-up or harness prints no result
        log(f"{type(e).__name__}: {e}")
        sys.exit(2)
