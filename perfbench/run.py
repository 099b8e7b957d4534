#!/usr/bin/env python3
"""Benchmark for the three paths the engine serves.

    python3 perfbench/run.py --workload {catalog,ingest,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run compiles ``src/main/scala``
and the JVM harness under ``perfbench/harness`` with the Scala compiler
that ships in the Spark jars, into ``.bench_build/`` (reused while the
sources are unchanged). Each run then starts one fresh JVM with a pinned
environment, drives the program through its public entry points, checks
every output, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.
The full record of the run is written to
``.bench_build/last-<workload>.json``.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
XMX_MB = 3072
CPUS = str(len(os.sched_getaffinity(0)))
# set-ups per run, whose median is setup_s
SETUPS = 3
SERVE_SETUPS = 3
ORIGIN = "http://localhost:5173"
ROUTES = {"food-gaps": "food_gaps.json", "poverty-by-zip": "poverty_by_zip.json",
          "rent-by-zip": "rent_by_zip.json"}

# The catalog workload's query list: a fixed slice of SparkEntry.queries
# that covers every family (TPC-H head, events, documents, embeddings,
# ANN) and the shared-frame builds and prepare hooks they pay. The whole
# catalog takes minutes even on the small corpus; one pass of this list
# fits a run.
CATALOG_QUERIES = json.load(open(os.path.join(HERE, "pins", "catalog.json")))["queries"]

ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


# every JVM this process starts, stopped at exit whatever the outcome
CHILDREN = []
SPARK_JARS = None  # set by build()


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the program builds against: ``$SPARK_HOME/jars``, or
    the ``unmanagedBase`` directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        die("no Spark jars: set SPARK_HOME or run from the repository root")
    return m.group(1)


def _digest(files, seed=b""):
    h = hashlib.sha256(seed)
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _scalac(dest, classpath, files):
    """Compile into ``dest`` (via a temp dir, so a failed build leaves
    nothing that looks finished) unless it is already there."""
    if os.path.exists(os.path.join(dest, "ok")):
        return
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                        "-cp", os.path.join(SPARK_JARS, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", classpath, "@" + argfile],
                       capture_output=True, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die(f"compile failed: {dest}")
    return tmp


def build():
    """Compile the program, then the harness against it, once per source
    state; returns the classpath entries for both."""
    global SPARK_JARS
    SPARK_JARS = spark_jars()
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    resources = os.path.join(ROOT, "src/main/resources")
    if not srcs or not harness:
        die("no sources under src/main/scala: run from the repository root")
    compiler = glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar"))
    if not compiler:
        die(f"no Scala compiler among the Spark jars in {SPARK_JARS}")
    res_files = sorted(f for f in glob.glob(resources + "/**/*", recursive=True)
                       if os.path.isfile(f))
    main_id = _digest(srcs + res_files, os.path.basename(compiler[0]).encode())
    main = os.path.join(BUILD, "main-" + main_id)
    jars = os.path.join(SPARK_JARS, "*")
    harness_dir = os.path.join(BUILD, "harness-" + _digest(harness, main_id.encode()))
    for dest, cp, files, extra in [(main, jars, srcs, resources),
                                   (harness_dir, main + ":" + jars, harness, None)]:
        tmp = _scalac(dest, cp, files)
        if tmp:
            if extra and os.path.isdir(extra):
                shutil.copytree(extra, tmp, dirs_exist_ok=True)
            shutil.rmtree(dest, ignore_errors=True)
            os.rename(tmp, dest)
            open(os.path.join(dest, "ok"), "w").close()
    return [harness_dir, main]


def start_jvm(classes, run_dir, cfg):
    """Start the harness in a fresh JVM with the pinned environment."""
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in
           ("SPARK_LOCAL_DIRS", "ALLOWED_ORIGINS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    env.update(SPARK_GRAFT_CPUS=CPUS, SPARK_LOCAL_DIRS=cfg["expect"]["local_dirs"],
               TMPDIR=tmp)
    # no perf-data file: the JVM would write it outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{XMX_MB}m", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.callstack.depth=200",
           "-Dspark.hadoop.fs.file.impl=perfbench.AuxSandboxFs",
           f"-Dperfbench.aux_root={os.path.join(run_dir, 'oracle_aux')}",
           "-cp", ":".join(classes + [os.path.join(SPARK_JARS, "*")]),
           "perfbench.Harness", cfg_path]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
    CHILDREN.append(proc)
    return proc


def finish_jvm(proc, run_dir, timeout):
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"harness timed out after {timeout}s")
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        die(f"harness exited with {proc.returncode}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def work(seconds, trace):
    """The fixed amount of work a run does for ``--seconds``: sized to
    take about that long on the seed commit, but independent of how fast
    the program is, so runs of two versions measure the same work."""
    passes = max(1, round(seconds / 20))
    # two refresh cycles per 20 s: the per-call latencies of one cycle
    # (three calls) gave a tail that was a single call
    cycles = max(1, round(seconds / 10))
    # a traced run adds a warm untraced pass and a traced one (compared
    # for trace_overhead_frac), traces half the refresh cycles, and
    # alternates untraced and traced serve set-ups
    return {"passes": passes + 2 if trace else passes,
            "setups": 5 if trace else SERVE_SETUPS,
            "cycles": 2 * cycles if trace else cycles,
            "fixed_s": 0.5 * seconds}


def catalog_passes(n, trace):
    """n passes over the query list in alphabetical order (Bench's order);
    in a traced run the last pass is traced."""
    return [{"order": sorted(CATALOG_QUERIES), "traced": bool(trace) and p == n - 1}
            for p in range(n)]


def check_catalog(passes, pins):
    """Every query ran and its Bench.materialize hash equals its pin."""
    attempted, errors = 0, []
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            if q["error"] or q["hash"] != pins.get(q["name"]):
                errors.append(f"{q['name']}: {q['error'] or 'hash ' + str(q['hash'])}")
    return attempted, len(errors), errors


def check_ingest(cycles, export_root, expected, pins):
    """Every export file holds the expected features and properties, and
    equals its pin where the seed has one."""
    attempted = failed = 0
    errors = []
    for e in cycles:
        c = e["cycle"]
        for name, fe in sorted(e["files"].items()):
            attempted += 1
            errs = gen.check_export(os.path.join(export_root, f"c{c}", name), expected[c][name])
            want = pins[c].get(name) if c < len(pins) else None
            if want is not None and fe["sha256"] != want:
                errs.append(f"cycle {c} {name}: sha256 {fe['sha256'][:12]} differs from the pin")
            if errs:
                failed += 1
                errors.extend(errs)
    return attempted, failed, errors


def run_catalog(args, classes, run_dir, cfg):
    corpus = os.path.join(run_dir, "corpus")
    gen.catalog_corpus(args.seed, corpus)
    cfg["catalog"] = {"corpus": corpus, "setups": SETUPS, "passes": catalog_passes(
        work(args.seconds, args.trace)["passes"], args.trace)}
    res = finish_jvm(start_jvm(classes, run_dir, cfg), run_dir, 170)
    with open(os.path.join(HERE, "pins", "catalog.json")) as f:
        pins = json.load(f)["hashes"]
    if args.plant:
        pins = dict(pins, **{args.plant: "0"})
    return (res, *check_catalog(res["passes"], pins), stats.catalog(res, int(CPUS)))


def run_ingest(args, classes, run_dir, cfg):
    raw = os.path.join(run_dir, "raw")
    cycles = work(args.seconds, args.trace)["cycles"]
    zips_file, expected, raw_rows = gen.ingest_inputs(args.seed, raw, cycles)
    cfg["ingest"] = {"raw": raw, "zips_file": zips_file, "cycles": cycles, "setups": SETUPS}
    res = finish_jvm(start_jvm(classes, run_dir, cfg), run_dir, 170)
    with open(os.path.join(HERE, "pins", "ingest.json")) as f:
        pins = json.load(f).get(str(args.seed), [])
    if args.plant and args.plant.startswith("ingest:"):
        _, c, name = args.plant.split(":")
        pins = [dict(p) for p in pins] + [{} for _ in range(int(c) + 1 - len(pins))]
        pins[int(c)][name] = "0"
    m = stats.ingest(res, raw_rows, int(CPUS))
    m["detail"]["export_sha256"] = [{n: f["sha256"] for n, f in e["files"].items()}
                                    for e in res["cycles"]]
    return (res, *check_ingest(res["cycles"], os.path.join(run_dir, "export"), expected, pins),
            m)


def serve_warehouse(classes):
    """The serve workload's warehouse and its export, built once per
    program build by the program's own ingest and export jobs from the
    seed-0 inputs, and cached; returns (warehouse, export dir, expected)."""
    base = os.path.join(BUILD, "serve-" + os.path.basename(classes[1]) + "-" +
                        _digest([os.path.join(HERE, "gen.py")]))
    raw = os.path.join(base, "raw")
    built = os.path.exists(os.path.join(base, "ok"))
    if not built:
        shutil.rmtree(base, ignore_errors=True)
    zips_file, expected, _ = gen.ingest_inputs(0, raw, 0)
    if not built:
        run_dir = os.path.join(base, "build")
        os.makedirs(run_dir)
        cfg = {"workload": "warehouse", "seed": 0, "seconds": 0, "trace": 0,
               "run_dir": run_dir, "out": os.path.join(run_dir, "result.json"),
               "expect": {"cpus": CPUS, "xmx_mb": XMX_MB,
                          "local_dirs": os.path.join(run_dir, "spark-local")},
               "warehouse": {"raw": raw, "zips_file": zips_file,
                             "dir": os.path.join(base, "warehouse"),
                             "export_dir": os.path.join(base, "export")}}
        finish_jvm(start_jvm(classes, run_dir, cfg), run_dir, 170)
        shutil.rmtree(run_dir)
        open(os.path.join(base, "ok"), "w").close()
    return os.path.join(base, "warehouse"), os.path.join(base, "export"), expected[0]


def run_serve(args, classes, run_dir, cfg):
    cached_wh, cached_export, expected = serve_warehouse(classes)
    # each run serves its own copy, so nothing a run does leaks into the next
    wh = os.path.join(run_dir, "warehouse")
    export_dir = os.path.join(run_dir, "export")
    shutil.copytree(cached_wh, wh)
    shutil.copytree(cached_export, export_dir)
    ready = os.path.join(run_dir, "ready.json")
    done = os.path.join(run_dir, "done")
    cfg["serve"] = {"warehouse": wh, "setups": work(args.seconds, args.trace)["setups"],
                    "origin": ORIGIN,
                    "ready": ready, "done": done, "timeout_s": 120}
    proc = start_jvm(classes, run_dir, cfg)
    deadline = time.time() + 120
    while not os.path.exists(ready):
        if proc.poll() is not None or time.time() > deadline:
            open(done, "w").close()
            finish_jvm(proc, run_dir, 30)
            die("server never became ready")
        time.sleep(0.05)
    with open(ready) as f:
        port = json.load(f)["port"]
    gen_cfg = os.path.join(run_dir, "loadgen.json")
    with open(gen_cfg, "w") as f:
        json.dump({"port": port, "seed": args.seed, "origin": ORIGIN,
                   "fixed_s": work(args.seconds, args.trace)["fixed_s"],
                   "bodies": {r: os.path.join(export_dir, fn) for r, fn in ROUTES.items()},
                   "plant": args.plant, "out": os.path.join(run_dir, "loadgen_out.json")}, f)
    try:
        r = subprocess.run([sys.executable, os.path.join(HERE, "loadgen.py"), gen_cfg],
                           timeout=100)
    finally:
        open(done, "w").close()
        res = finish_jvm(proc, run_dir, 60)
    if r.returncode != 0:
        die("load generator failed")
    with open(os.path.join(run_dir, "loadgen_out.json")) as f:
        load = json.load(f)
    # the export the bodies are compared with must itself hold the
    # expected content
    bad_files = [fn for fn in ROUTES.values()
                 if gen.check_export(os.path.join(export_dir, fn), expected[fn])]
    errors = [f"{fn}: export differs from the expected content" for fn in bad_files]
    errors += load["errors"]
    return (res, load["attempted"] + len(ROUTES), load["failed"] + len(bad_files), errors,
            stats.serve(res, load, int(CPUS)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["catalog", "ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test hook: expect a wrong value for one output (a query name,
    # "ingest:<cycle>:<file>", or a route) so the check must fail
    ap.add_argument("--plant", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    classes = build()
    run_dir = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "run_dir": run_dir,
           "out": os.path.join(run_dir, "result.json"),
           "expect": {"cpus": CPUS, "xmx_mb": XMX_MB,
                      "local_dirs": os.path.join(run_dir, "spark-local")}}
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        runner = {"catalog": run_catalog, "ingest": run_ingest, "serve": run_serve}[args.workload]
        _, attempted, failed, errors, m = runner(args, classes, run_dir, cfg)
    finally:
        for p in CHILDREN:
            if p.poll() is None:
                p.kill()
            p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    units = {x["name"]: x["unit"] for x in bench[kind]}
    values = m["per_layer" if args.trace else "end_to_end"]
    if set(values) != set(units):
        die(f"metric names differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    consistency = m.get("consistency_errors", [])
    correct = failed == 0 and not consistency
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "correct": correct, "attempted": attempted,
              "failed": failed, "errors": errors[:50] + consistency,
              "env": {"SPARK_GRAFT_CPUS": CPUS, "xmx_mb": XMX_MB,
                      "SPARK_LOCAL_DIRS": "<run dir>/spark-local", "jvm": "fresh per run",
                      "warehouse": "fresh temp dir per run"},
              "metrics": values, "detail": m.get("detail", {})}
    with open(os.path.join(BUILD, f"last-{args.workload}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for e in (errors[:10] + consistency):
        print(f"[perfbench] {e}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in sorted(values.items())}}))


if __name__ == "__main__":
    main()
