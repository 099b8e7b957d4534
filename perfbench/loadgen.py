#!/usr/bin/env python3
"""Load generator for the ``serve`` workload.

    python3 perfbench/loadgen.py <config.json>

One process, at most ``nproc`` keep-alive connections. The unit of load
is a dashboard load: one request to each of the three routes, sent
together. About 90% of requests ask for gzip and send the allow-listed
Origin, the rest ask for identity. Every body is checked byte for byte
against the export file of the warehouse the server reads: identity
bodies directly, gzip bodies after decompression (a body identical to one
already verified is not decompressed again).

Phases:
  warmup  closed loop: WARMUP dashboard loads, checked but not timed.
  burst   closed loop, BURSTS times: BURST dashboard loads as fast as the
          connections allow; the median wall time of the bursts is the
          workload's ``wall_s`` (one burst of a few seconds swung by a
          fifth between runs on a shared host).
  fixed   open loop: dashboard loads at FIXED_LOADS_PER_S on a seeded
          schedule for ``fixed_s`` seconds; a load's latency runs from its
          scheduled send time to the last byte of its third response, so
          queueing behind earlier requests counts. Gaps between arrivals
          are jittered around the mean rather than exponential: with the
          30 or so loads a run can afford, a Poisson schedule's clumps
          decided the tail and it swung by half from seed to seed.
"""
import asyncio
import json
import os
import random
import sys
import time
import zlib

sys.dont_write_bytecode = True

CONNS = len(os.sched_getaffinity(0))
ROUTES = ("food-gaps", "poverty-by-zip", "rent-by-zip")
WARMUP = 10
BURST = 15
BURSTS = 3
FIXED_LOADS_PER_S = 2.0
GZIP_SHARE = 0.9
REQUEST_TIMEOUT_S = 20.0


class Check:
    """Byte-equality of served bodies with the export files."""

    def __init__(self, bodies, origin, plant):
        self.want = {}
        for route, path in bodies.items():
            with open(path, "rb") as f:
                self.want[route] = f.read()
        if plant in self.want:
            self.want[plant] = self.want[plant] + b" "
        self.origin = origin
        self.gzip_ok = {r: set() for r in bodies}
        self.errors = []

    def ok(self, route, gz, status, headers, body):
        def bad(why):
            if len(self.errors) < 20:
                self.errors.append(f"/api/{route} ({'gzip' if gz else 'identity'}): {why}")
            return False
        if status != 200:
            return bad(f"status {status}")
        encoded = headers.get("content-encoding") == "gzip"
        if gz:
            if headers.get("access-control-allow-origin") != self.origin:
                return bad("missing CORS allow-origin")
            if encoded:
                if body in self.gzip_ok[route]:
                    return True
                try:
                    plain = zlib.decompress(body, 16 + zlib.MAX_WBITS)
                except zlib.error as e:
                    return bad(f"bad gzip: {e}")
                if plain != self.want[route]:
                    return bad("gunzipped body differs from the export")
                self.gzip_ok[route].add(body)
                return True
        elif encoded:
            return bad("gzip body sent to an identity request")
        if body != self.want[route]:
            return bad("body differs from the export")
        return True


class Client:
    def __init__(self, port, origin, check):
        self.port = port
        self.origin = origin
        self.check = check
        self.pool = asyncio.Queue()
        self.inflight = 0
        self.inflight_peak = 0

    async def open(self):
        for _ in range(CONNS):
            self.pool.put_nowait(await asyncio.open_connection("127.0.0.1", self.port))

    async def close(self):
        while not self.pool.empty():
            _, w = self.pool.get_nowait()
            w.close()

    async def request(self, route, gz, sched):
        """One request; returns a sample dict. ``sched`` is the scheduled
        send time (perf_counter seconds), or None for the closed loop."""
        woke = time.perf_counter()
        start = sched if sched is not None else woke
        self.inflight += 1
        self.inflight_peak = max(self.inflight_peak, self.inflight)
        conn = await self.pool.get()
        reader, writer = conn
        sample = {"route": route, "gzip": gz, "late_ms": (woke - start) * 1e3, "ok": False}
        try:
            hdr = [f"GET /api/{route} HTTP/1.1", f"Host: 127.0.0.1:{self.port}"]
            if gz:
                hdr += ["Accept-Encoding: gzip", f"Origin: {self.origin}"]
            sent = time.perf_counter()
            writer.write(("\r\n".join(hdr) + "\r\n\r\n").encode())
            await writer.drain()
            head = await asyncio.wait_for(reader.readuntil(b"\r\n\r\n"), REQUEST_TIMEOUT_S)
            first = time.perf_counter()
            lines = head.decode("latin-1").split("\r\n")
            status = int(lines[0].split()[1])
            headers = {}
            for line in lines[1:]:
                if ":" in line:
                    k, v = line.split(":", 1)
                    headers[k.strip().lower()] = v.strip()
            body = await asyncio.wait_for(
                reader.readexactly(int(headers.get("content-length", "0"))), REQUEST_TIMEOUT_S)
            done = time.perf_counter()
            sample.update(latency_ms=(done - start) * 1e3, ttfb_ms=(first - sent) * 1e3,
                          wire_bytes=len(head) + len(body),
                          ok=self.check.ok(route, gz, status, headers, body))
            if headers.get("connection", "").lower() == "close":
                writer.close()
                conn = await asyncio.open_connection("127.0.0.1", self.port)
        except (OSError, asyncio.TimeoutError, asyncio.IncompleteReadError, ValueError) as e:
            self.check.ok(route, gz, f"error {type(e).__name__}", {}, b"")
            writer.close()
            conn = await asyncio.open_connection("127.0.0.1", self.port)
        finally:
            self.pool.put_nowait(conn)
            self.inflight -= 1
        return sample


def dashboard(rng):
    """The three routes of one dashboard load, each with its gzip flag."""
    return [(r, rng.random() < GZIP_SHARE) for r in ROUTES]


async def load(client, rng, sched):
    """One dashboard load; returns (latency_ms, request samples)."""
    got = await asyncio.gather(*[client.request(r, g, sched) for r, g in dashboard(rng)])
    ok = all(s["ok"] for s in got)
    return (max(s["latency_ms"] for s in got) if ok else None), got


async def open_loop(client, rng, rate, seconds):
    """Dashboard loads at ``rate``/s for ``seconds``, each gap between
    arrivals drawn uniformly from [0.5, 1.5] times the mean gap."""
    times, t = [], rng.uniform(0.5, 1.5) / rate
    while t < seconds:
        times.append(t)
        t += rng.uniform(0.5, 1.5) / rate
    t0 = time.perf_counter() + 0.05
    seeds = [rng.random() for _ in times]

    async def one(at, sub):
        await asyncio.sleep(max(0.0, t0 + at - time.perf_counter()))
        return await load(client, random.Random(sub), t0 + at)

    return await asyncio.gather(*[asyncio.create_task(one(at, sub))
                                  for at, sub in zip(times, seeds)])


async def main(cfg):
    rng = random.Random(cfg["seed"])
    check = Check(cfg["bodies"], cfg["origin"], cfg.get("plant"))
    client = Client(cfg["port"], cfg["origin"], check)
    await client.open()
    samples = []

    async def closed_loop(n):
        pending = [(r, g) for _ in range(n) for r, g in dashboard(rng)]

        async def worker():
            out = []
            while pending:
                r, g = pending.pop()
                out.append(await client.request(r, g, None))
            return out
        for part in await asyncio.gather(*[worker() for _ in range(CONNS)]):
            samples.extend(part)

    await closed_loop(WARMUP)
    burst_s = []
    for _ in range(BURSTS):
        b0 = time.perf_counter()
        await closed_loop(BURST)
        burst_s.append(time.perf_counter() - b0)

    fixed = await open_loop(client, rng, FIXED_LOADS_PER_S, cfg["fixed_s"])
    await client.close()
    fixed_requests = [s for _, got in fixed for s in got]
    samples += fixed_requests
    ok = [s for s in fixed_requests if s["ok"]]
    out = {
        "attempted": len(samples), "failed": sum(1 for s in samples if not s["ok"]),
        "errors": check.errors, "burst_s": burst_s, "burst_requests": 3 * BURST,
        "fixed_loads_per_s": FIXED_LOADS_PER_S,
        "load_latency_ms": [lat for lat, _ in fixed if lat is not None],
        "ttfb_ms": [s["ttfb_ms"] for s in ok], "wire_bytes": [s["wire_bytes"] for s in ok],
        "late_ms": [s["late_ms"] for s in fixed_requests],
        "inflight_peak": client.inflight_peak,
    }
    with open(cfg["out"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        asyncio.run(main(json.load(fh)))
