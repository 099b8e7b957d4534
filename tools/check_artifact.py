#!/usr/bin/env python3
"""Bench-artifact provenance check (round-11 verdict #8).

BENCH_r10.json shipped WITHOUT its metric line: a WARN flood displaced
the one-JSON-line contract out of the driver's 2000-char tail window.
The Bench fix (teardown before an ERROR-level final print) prevents it,
but nothing guarded the durable artifact itself — a regression would
silently ship another empty pin. This check fails the pin cycle when a
bench artifact is missing the fields the judge and the exponent
tooling read.

Usage: python3 tools/check_artifact.py BENCH_file.json [more...]
Exit 0 iff every file parses as the bench JSON object with a numeric
`value`, the `queries` per-query map, `n_queries` consistent with it,
and an empty-or-listed `failed`. A full-catalog artifact (the complete
line Bench writes to its output file, not a subset run and not the
compact stdout line) must also carry the `head_cold` map of the cold
main-pass times of exactly the head queries Bench re-times, so a pin
from before the head re-time cannot be compared with one after it.
"""
import json
import sys


def find_metric(text: str):
    """Last line containing a JSON object with a `metric` key (sbt may
    prefix it with [info]/[error]). Returns (obj, displaced): displaced
    is True when the metric line is NOT the final non-empty line — the
    Bench contract is final-stdout, and a displaced line means the tail
    window may truncate it next time (the r10 failure mode this tool
    guards, r12 ADVICE finding)."""
    lines = [l for l in text.splitlines() if l.strip()]
    for idx in range(len(lines) - 1, -1, -1):
        line = lines[idx]
        i = line.find("{")
        if i < 0:
            continue
        try:
            cand = json.loads(line[i:].strip())
        except json.JSONDecodeError:
            continue
        if isinstance(cand, dict) and "metric" in cand:
            return cand, idx != len(lines) - 1
    return None, False


def catalog_size():
    """Catalog size from the exponent pin file (one entry per query),
    resolved relative to this tool's repo; None when unavailable."""
    import os
    pins = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "..", "src", "test", "resources",
                        "sf10_exponent_pins.json")
    try:
        with open(pins) as f:
            return len(json.load(f))
    except (OSError, json.JSONDecodeError):
        return None


def check_head_cold(head_cold, queries: dict) -> list:
    """Bench re-times the alphabetical head of a full catalog (every
    name sorting before the first `q_*` one) and keeps the cold times
    under `head_cold`; a full-catalog artifact without that map, or with
    a map over other names, mixes the two methodologies."""
    if head_cold is None:
        return ["full-catalog artifact lacks the `head_cold` map "
                "(a pin from before the head re-time)"]
    if not isinstance(head_cold, dict) or not all(
            isinstance(v, (int, float)) for v in head_cold.values()):
        return ["`head_cold` is not a map of numeric timings"]
    heads = set()
    for name in sorted(queries):
        if name.startswith("q_"):
            break
        heads.add(name)
    if set(head_cold) != heads:
        return [f"`head_cold` keys differ from the head queries: "
                f"{sorted(set(head_cold) ^ heads)[:5]}"]
    return []


def check(path: str) -> list:
    errs = []
    try:
        with open(path) as f:
            text = f.read().strip()
    except OSError as e:
        return [f"unreadable: {e}"]
    if not text:
        return ["empty file (the r10 missing-metric-line failure mode)"]
    obj, displaced = find_metric(text)
    wrapped = False
    if obj is None:
        # driver-round artifacts wrap the run: {"n":…,"rc":…,"tail":"…"}
        # with the metric line embedded (escaped) inside the tail — the
        # exact surface the r10 bug truncated
        try:
            wrapper = json.loads(text)
        except json.JSONDecodeError:
            wrapper = None
        if isinstance(wrapper, dict) and isinstance(wrapper.get("tail"), str):
            wrapped = True
            obj, _ = find_metric(wrapper["tail"])
            if obj is None:
                return ["driver wrapper's tail window lost the metric line "
                        "(the r10 failure mode)"]
    if obj is None:
        return ["no parseable metric line found"]
    if displaced and not wrapped:
        # a bare bench dump whose metric line is not final stdout is one
        # log flood away from shipping truncated — fail it now, while
        # the full line still exists to inspect
        errs.append("metric line is not the final non-empty line (the "
                    "final-stdout contract; a tail window may truncate it)")
    if not isinstance(obj.get("value"), (int, float)):
        errs.append("missing/non-numeric `value`")
    q = obj.get("queries")
    if not isinstance(q, dict) or not q:
        errs.append("missing/empty `queries` map")
    else:
        bad = [k for k, v in q.items() if not isinstance(v, (int, float))]
        if bad:
            errs.append(f"non-numeric query timings: {bad[:5]}")
        # `queries` may be a truncated top-N view in the tail line;
        # when the authoritative count is present it must cover it
        # (pre-r12 pins predate the n_queries field — full maps, no count)
        n = obj.get("n_queries")
        if n is not None and (not isinstance(n, int) or n < len(q)):
            errs.append(f"n_queries={n!r} inconsistent with {len(q)} timed queries")
        # over-reporting guard: the count may not exceed the catalog
        # size (the pin file enumerates it; ±16 slack for queries added
        # since the last re-pin)
        if n is not None and isinstance(n, int):
            cat = catalog_size()
            if cat and n > cat + 16:
                errs.append(f"n_queries={n} exceeds the known catalog "
                            f"size ({cat}) — over-reported artifact")
    if isinstance(q, dict) and q and "queries_full" not in obj \
            and "subset" not in obj:
        errs += check_head_cold(obj.get("head_cold"), q)
    failed = obj.get("failed")
    if failed is None or not isinstance(failed, list):
        errs.append("missing `failed` list")
    elif failed:
        errs.append(f"bench reports failed queries: {failed}")
    return errs


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    rc = 0
    for path in sys.argv[1:]:
        errs = check(path)
        if errs:
            rc = 1
            for e in errs:
                print(f"FAIL {path}: {e}")
        else:
            print(f"ok {path}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
