#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py          # fast checks, no JVM (~15 s)
    python3 perfbench/selftest.py --full   # also planted-failure runs of
                                           # the real benchmark (~3 min)

Checks:
  - a planted wrong hash counts as a failure (catalog pins, ingest pins,
    served bodies);
  - the metric names the benchmark prints are those in BENCHMARK.json;
  - the input generators are deterministic per seed and differ across
    seeds;
  - the load generator reports its lateness against the schedule.
"""
import asyncio
import filecmp
import gzip
import http.server
import json
import os
import subprocess
import sys
import tempfile
import threading

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import loadgen  # noqa: E402
import stats  # noqa: E402

FAILURES = []


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        FAILURES.append(what)


def bench_names(kind):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def test_metric_names():
    e2e = stats.end_to_end([1.0], 1.0, [1.0, 2.0], 1.0)
    check(set(e2e) == bench_names("end_to_end"), "end-to-end metric names match BENCHMARK.json")
    per_layer = set(stats.zero_layers()) | set(stats.spark_layer([], 0, {}, 1.0, 1)) | \
        set(stats.sink_layers([]))
    check(per_layer == bench_names("per_layer"), "per-layer metric names match BENCHMARK.json")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generators(tmp):
    for seed in (0, 5):
        a, b = os.path.join(tmp, f"c{seed}a"), os.path.join(tmp, f"c{seed}b")
        gen.catalog_corpus(seed, a)
        gen.catalog_corpus(seed, b)
        check(same_tree(a, b), f"catalog corpus is deterministic for seed {seed}")
    check(not same_tree(os.path.join(tmp, "c0a"), os.path.join(tmp, "c5a")),
          "catalog corpus differs across seeds")
    runs = {}
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        d = os.path.join(tmp, f"i{tag}")
        _, expected, _ = gen.ingest_inputs(seed, d, 2)
        runs[tag] = (d, expected)
    check(same_tree(runs["a"][0], runs["b"][0]) and runs["a"][1] == runs["b"][1],
          "ingest inputs and expectations are deterministic per seed")
    check(not same_tree(runs["a"][0], runs["c"][0]), "ingest inputs differ across seeds")
    d = os.path.join(tmp, "i4")
    _, expected, _ = gen.ingest_inputs(3, d, 4)
    check(all(same_tree(os.path.join(d, sub), os.path.join(runs["a"][0], sub))
              for sub in ("initial", "cycle1", "cycle2")) and expected[:3] == runs["a"][1],
          "the inputs of a cycle do not depend on how many cycles a run makes")


def test_planted_hashes(tmp):
    import run
    passes = [{"queries": [{"name": "q_a", "hash": "1", "error": None},
                           {"name": "q_b", "hash": "2", "error": None}]}]
    check(run.check_catalog(passes, {"q_a": "1", "q_b": "2"})[1] == 0,
          "catalog check passes with the right pins")
    check(run.check_catalog(passes, {"q_a": "1", "q_b": "0"})[1] == 1,
          "a planted wrong catalog hash counts as a failure")

    # an export that matches its expected content, then a planted pin
    d = os.path.join(tmp, "export")
    _, expected, _ = gen.ingest_inputs(2, os.path.join(tmp, "raw2"), 0)
    os.makedirs(os.path.join(d, "c0"))
    name = "rent_by_zip.json"
    exp = expected[0][name]
    feats = [{"type": "Feature",
              "geometry": {"type": "MultiPolygon", "coordinates": [[exp["rings"][k]]]},
              "properties": dict(row)} for k, row in exp["rows"].items()]
    path = os.path.join(d, "c0", name)
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)
    cycles = [{"cycle": 0, "files": {name: {"sha256": "abc"}}}]
    check(run.check_ingest(cycles, d, expected, [])[1] == 0,
          "ingest check passes on an export with the expected content")
    check(run.check_ingest(cycles, d, expected, [{name: "0"}])[1] == 1,
          "a planted wrong ingest pin counts as a failure")
    feats[0]["properties"]["rent_index"] += 1
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)
    check(run.check_ingest(cycles, d, expected, [])[1] == 1,
          "a changed export value counts as a failure")


class _Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    bodies = {}

    def do_GET(self):
        body = self.bodies[self.path.rsplit("/", 1)[-1]]
        gz = "gzip" in (self.headers.get("Accept-Encoding") or "")
        out = gzip.compress(body) if gz else body
        self.send_response(200)
        if gz:
            self.send_header("Content-Encoding", "gzip")
            self.send_header("Access-Control-Allow-Origin", self.headers.get("Origin"))
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)

    def log_message(self, *a):
        pass


def test_loadgen(tmp):
    bodies = {}
    for r in loadgen.ROUTES:
        p = os.path.join(tmp, r + ".json")
        with open(p, "wb") as f:
            f.write(json.dumps({"route": r, "pad": "x" * 5000}).encode())
        bodies[r] = p
        with open(p, "rb") as f:
            _Handler.bodies[r] = f.read()
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    old = loadgen.WARMUP, loadgen.BURST
    loadgen.WARMUP, loadgen.BURST = 2, 3
    try:
        for plant in (None, "rent-by-zip"):
            out = os.path.join(tmp, f"gen-{plant}.json")
            asyncio.run(loadgen.main({"port": srv.server_address[1], "seed": 1,
                                      "origin": "http://localhost:5173", "fixed_s": 2.0,
                                      "bodies": bodies, "plant": plant, "out": out}))
            with open(out) as f:
                res = json.load(f)
            if plant is None:
                check(res["failed"] == 0 and res["attempted"] > 0,
                      "load generator accepts correct bodies")
                fixed = 3 * len(res["load_latency_ms"])
                check(len(res["late_ms"]) == fixed and all(x >= 0 for x in res["late_ms"]),
                      "load generator reports lateness for every scheduled request")
            else:
                check(res["failed"] > 0, "a planted body mismatch counts as a failure")
    finally:
        loadgen.WARMUP, loadgen.BURST = old
        srv.shutdown()


def test_full():
    """Planted failures through the real benchmark and program."""
    root = os.path.dirname(HERE)
    for wl, plant in (("catalog", "q_semi_join"), ("ingest", "ingest:1:rent_by_zip.json"),
                      ("serve", "food-gaps")):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                            "--seed", "1", "--seconds", "20", "--trace", "0", "--plant", plant],
                           cwd=root, capture_output=True, text=True)
        line = json.loads(r.stdout.strip().splitlines()[-1])
        check(r.returncode == 0 and not line["correct"] and line["failed"] >= 1,
              f"{wl}: planted wrong value ({plant}) reads as a failure")
        check(set(line["metrics"]) == bench_names("end_to_end"),
              f"{wl}: printed metric names match BENCHMARK.json")


def main():
    with tempfile.TemporaryDirectory(dir=os.path.join(os.getcwd())) as tmp:
        test_metric_names()
        test_generators(tmp)
        test_planted_hashes(tmp)
        test_loadgen(tmp)
    if "--full" in sys.argv:
        test_full()
    print(f"{len(FAILURES)} failed")
    sys.exit(1 if FAILURES else 0)


if __name__ == "__main__":
    main()
