"""Seeded inputs for the benchmark workloads, and the expected content of
the ingest exports they lead to.

- ``catalog_corpus``: the TPC-H-shaped sf0.01 corpus shipped under
  ``perfbench/corpus`` (the ten sf0.01 tables), each table's rows put in
  a seed-determined order. Row order changes the physical input (file
  layout, partition contents, arrival order) but not the logical tables,
  so every query's result hash is the same for every seed. ``embeddings``
  keeps its order: the k-means seeding of ``q_ann_ivf`` and
  ``q_emb_semdedup`` takes the first rows, so their (equally valid)
  results depend on it.
- ``ingest_inputs``: raw inputs in the reference's five dataset shapes
  (SODA records, Census rows, shapefile rows, the wide Zillow CSV) at
  the reference's cardinalities, plus refresh cycles that add a Zillow
  month and revise the latest food vintage. Values depend on the seed;
  ``expected`` describes the three exports each cycle must produce.
"""
import csv
import json
import math
import os
import random
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus")
CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]

ORDERED_TABLES = {"embeddings"}

N_NTAS = 197
N_ZIPS = 178
NTA_VERTICES = 480   # food-gaps body near the reference's 2.24 MB
ZCTA_VERTICES = 236  # poverty / rent bodies near 1.01 / 0.89 MB
SENTINEL_INCOME = "-666666666"
BOROS = [("Manhattan", "MN", 1), ("Bronx", "BX", 2), ("Brooklyn", "BK", 3),
         ("Queens", "QN", 4), ("Staten Island", "SI", 5)]
FIRST_MONTHS = 22    # 2024-01 .. 2025-10, as in the reference's file


def catalog_corpus(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for t in CORPUS_TABLES:
        table = pq.read_table(os.path.join(CORPUS, f"{t}.parquet"))
        perm = rng.permutation(table.num_rows)
        if seed == 0 or t in ORDERED_TABLES:
            perm = np.arange(table.num_rows)
        pq.write_table(table.take(pa.array(perm)), os.path.join(out_dir, f"{t}.parquet"))


def month_ends(n):
    """n month-end dates starting 2024-01-31."""
    out = []
    y, m = 2024, 1
    for _ in range(n):
        nxt = (y + (m == 12), m % 12 + 1)
        last = (np.datetime64(f"{nxt[0]:04d}-{nxt[1]:02d}-01") - np.timedelta64(1, "D"))
        out.append(str(last))
        y, m = nxt
    return out


def polygon(rng, cx, cy, r, n):
    """Closed ring of n distinct vertices around (cx, cy), 6 decimals."""
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n
        rr = r * (0.75 + 0.25 * rng.random())
        pts.append((round(cx + rr * math.cos(a), 6), round(cy + rr * math.sin(a), 6)))
    return pts + [pts[0]]


def money(rng, lo, hi):
    return f"{rng.uniform(lo, hi):.2f}"


def ingest_inputs(seed, out_dir, cycles):
    """Write raw inputs for the initial load and ``cycles`` refreshes;
    return (zips_file, expected) where expected[c] is the content the
    three exports must have after cycle c (0 = initial load)."""
    rng = random.Random(seed)
    init = os.path.join(out_dir, "initial")
    os.makedirs(init, exist_ok=True)

    zips = sorted(f"{z:05d}" for z in rng.sample(range(10001, 11698), N_ZIPS))
    others = [f"{z:05d}" for z in rng.sample(range(20000, 29999), 40)]
    zips_file = os.path.join(out_dir, "nyc_zips.txt")
    with open(zips_file, "w") as f:
        f.write("\n".join(zips) + "\n")

    # ntas_2020: SODA records, geometry as a GeoJSON string
    ntas = []
    for i in range(N_NTAS):
        boro, abbr, code = BOROS[i % 5]
        nta = f"{abbr}{i // 5 + 1:02d}{i % 5 + 1:02d}"
        ring = polygon(rng, -74.05 + 0.004 * i, 40.55 + 0.002 * i, 0.01, NTA_VERTICES)
        ntas.append({"nta2020": nta, "ntaname": f"Neighborhood {i}", "boroname": boro,
                     "borocode": str(code), "ring": ring})
    pq.write_table(pa.table({
        ":id": [f"row-{i}" for i in range(N_NTAS)],
        "NTA2020": [n["nta2020"] for n in ntas],
        "NTAName": [n["ntaname"] for n in ntas],
        "BoroName": [n["boroname"] for n in ntas],
        "BoroCode": [n["borocode"] for n in ntas],
        "the_geom": [json.dumps({"type": "MultiPolygon", "coordinates": [[n["ring"]]]},
                                separators=(",", ":")) for n in ntas],
    }), os.path.join(init, "ntas_2020.parquet"))

    # food_supply_gap: two vintages, all values as strings; one duplicate
    # key (keep-last), one out-of-range percentage, one unparsable year
    def food_row(year, nta):
        return {"year": str(year), "nta": nta, "nta_name": "",
                "supply_gap_lbs": money(rng, 1e4, 9e6),
                "food_insecure_percentage": f"{rng.uniform(0.02, 0.35):.2f}",
                "unemployment_rate": money(rng, 1, 20),
                "vulnerable_population": money(rng, 0, 99),
                "weighted_score": money(rng, 0, 10),
                "rank": str(rng.randint(1, N_NTAS))}
    latest = {n["nta2020"]: food_row(2023, n["nta2020"]) for n in ntas}
    latest[ntas[rng.randrange(N_NTAS)]["nta2020"]]["food_insecure_percentage"] = "150"
    food = [food_row(2022, n["nta2020"]) for n in ntas]
    # an earlier row for the same (year, nta) key, superseded by keep-last
    food.append(food_row(2023, ntas[rng.randrange(N_NTAS)]["nta2020"]))
    food += [dict(latest[n["nta2020"]]) for n in ntas]
    junk = food_row(2021, ntas[0]["nta2020"])
    junk["year"] = "abc"
    food.append(junk)
    write_food(food, os.path.join(init, "food_supply_gap.parquet"))

    # census_zctas_2020: shapefile rows, WKT; a few already MultiPolygon,
    # plus non-NYC ZIPs the transform must filter out
    zgeom = {}
    rows = []
    for i, z in enumerate(zips + others):
        ring = polygon(rng, -74.1 + 0.003 * i, 40.5 + 0.0025 * i, 0.008, ZCTA_VERTICES)
        zgeom[z] = ring
        body = "(" + ", ".join(f"{x} {y}" for x, y in ring) + ")"
        rows.append((z, f"MULTIPOLYGON (({body}))" if i % 17 == 0 else f"POLYGON ({body})"))
    rng.shuffle(rows)
    pq.write_table(pa.table({"ZCTA5CE20": [r[0] for r in rows],
                             "geometry": [r[1] for r in rows]}),
                   os.path.join(init, "census_zctas_2020.parquet"))

    # census_acs: one sentinel income (NULL, so 177 poverty features)
    sentinel = zips[rng.randrange(N_ZIPS)]
    acs = {}
    for z in zips:
        universe = rng.randint(200, 60000)
        acs[z] = {"income": SENTINEL_INCOME if z == sentinel else money(rng, 2e4, 2.5e5),
                  "count": rng.randint(0, universe // 2), "universe": universe}
    pq.write_table(pa.table({
        "zip code tabulation area": zips,
        "B19013_001E": [acs[z]["income"] for z in zips],
        "B17020_002E": [str(acs[z]["count"]) for z in zips],
        "B17020_001E": [str(acs[z]["universe"]) for z in zips],
    }), os.path.join(init, "census_acs.parquet"))

    # zillow_zori: wide CSV; 23 NYC ZIPs have no rent at all (155 rent
    # features), some miss the latest month, non-NYC ZIPs are filtered
    no_rent = set(rng.sample(zips, 23))
    months = month_ends(FIRST_MONTHS + max(1, cycles))
    # The first refresh month comes from the main stream and each later
    # one from a stream of its own, so the inputs of a cycle do not depend
    # on how many cycles a run makes (the export pins hold for any length).
    streams = {k: random.Random(f"{seed}:month:{k}")
               for k in range(FIRST_MONTHS + 1, len(months))}
    series = {}
    for z in zips + others:
        base = rng.uniform(1500, 5000)
        series[z] = [None if z in no_rent or r.random() < 0.08
                     else round(base * (1 + 0.004 * k) + r.uniform(-20, 20), 2)
                     for k in range(len(months))
                     for r in [streams.get(k, rng)]]
    write_zillow(series, zips + others, months[:FIRST_MONTHS],
                 os.path.join(init, "zillow_zori.csv"))

    def expected_now(n_months):
        rent = {}
        for z in zips:
            vals = [(months[k], v) for k, v in enumerate(series[z][:n_months]) if v is not None]
            if vals:
                d, v = vals[-1]
                rent[z] = {"zip_code": z, "rent_index": v, "date": d, "year": int(d[:4])}
        food_exp = {}
        for n in ntas:
            r = latest[n["nta2020"]]
            pct = float(r["food_insecure_percentage"])
            food_exp[n["nta2020"]] = {
                "nta_code": n["nta2020"], "nta_name": n["ntaname"],
                "boro_name": n["boroname"], "year": 2023,
                "supply_gap_lbs": float(r["supply_gap_lbs"]),
                "food_insecure_pct": pct if 0 <= pct <= 100 else None,
                "vulnerable_pop_score": float(r["vulnerable_population"]),
                "unemployment_rate": float(r["unemployment_rate"])}
        poverty = {}
        for z in zips:
            a = acs[z]
            if a["income"] == SENTINEL_INCOME:
                continue
            poverty[z] = {"zip_code": z, "year": 2023,
                          "poverty_rate": a["count"] / a["universe"] * 100,
                          "median_household_income": float(a["income"]),
                          "poverty_count": a["count"], "poverty_universe": a["universe"]}
        return {
            "food_gaps.json": {"key": "nta_code", "rows": food_exp,
                               "rings": {n["nta2020"]: n["ring"] for n in ntas}},
            "poverty_by_zip.json": {"key": "zip_code", "rows": poverty, "rings": zgeom},
            "rent_by_zip.json": {"key": "zip_code", "rows": rent, "rings": zgeom},
        }

    expected = [expected_now(FIRST_MONTHS)]
    for c in range(1, cycles + 1):
        d = os.path.join(out_dir, f"cycle{c}")
        os.makedirs(d, exist_ok=True)
        write_zillow(series, zips + others, months[:FIRST_MONTHS + c],
                     os.path.join(d, "zillow_zori.csv"))
        revised = []
        for n in ntas:
            if rng.random() < 0.5:
                latest[n["nta2020"]] = food_row(2023, n["nta2020"])
            revised.append(dict(latest[n["nta2020"]]))
        rng.shuffle(revised)
        write_food(revised, os.path.join(d, "food_supply_gap.parquet"))
        expected.append(expected_now(FIRST_MONTHS + c))
    raw_rows = {"initial": len(ntas) + len(food) + len(rows) + len(zips) + len(zips + others),
                "cycle": len(zips + others) + N_NTAS}
    return zips_file, expected, raw_rows


def write_food(rows, path):
    cols = ["year", "nta", "nta_name", "supply_gap_lbs", "food_insecure_percentage",
            "unemployment_rate", "vulnerable_population", "weighted_score", "rank"]
    data = {":id": [f"row-{i}" for i in range(len(rows))],
            ":version": ["v1"] * len(rows),
            ":created_at": ["2025-01-01T00:00:00.000Z"] * len(rows)}
    for c in cols:
        data[c] = [r[c] for r in rows]
    pq.write_table(pa.table(data), path)


def write_zillow(series, regions, months, path):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["RegionID", "SizeRank", "RegionName", "RegionType", "StateName",
                    "State", "City", "Metro", "CountyName"] + months)
        for i, z in enumerate(regions):
            w.writerow([60000 + i, i, z, "zip", "NY", "NY", "New York",
                        "New York-Newark-Jersey City", "Kings County"] +
                       ["" if v is None else f"{v:.2f}" for v in series[z][:len(months)]])


def _num(v):
    return None if v is None else float(v)


def check_export(path, exp):
    """Compare one exported FeatureCollection with its expected content:
    the feature key set, every property value, and every vertex.
    Returns a list of mismatch descriptions (empty when it matches)."""
    with open(path, "rb") as f:
        doc = json.loads(f.read())
    feats = doc.get("features") or []
    key = exp["key"]
    rows = exp["rows"]
    got = {ft["properties"][key]: ft for ft in feats}
    errs = []
    if len(feats) != len(rows) or set(got) != set(rows):
        errs.append(f"{os.path.basename(path)}: {len(feats)} features, want {len(rows)}")
        return errs
    for k, want in rows.items():
        ft = got[k]
        props = ft["properties"]
        for p, wv in want.items():
            gv = props.get(p, "<missing>")
            if p == "poverty_rate":
                ok = gv is not None and abs(float(gv) - wv) <= 0.005 + 1e-9 and \
                    float(Decimal(str(gv)).quantize(Decimal("0.01"), ROUND_HALF_UP)) == float(gv)
            elif isinstance(wv, str):
                ok = gv == wv
            elif wv is None:
                ok = gv is None
            else:
                ok = gv is not None and gv != "<missing>" and abs(_num(gv) - wv) <= 1e-9 * max(1, abs(wv))
            if not ok:
                errs.append(f"{os.path.basename(path)}[{k}].{p}: {gv!r} != {wv!r}")
        ring = exp["rings"][k]
        geom = ft.get("geometry") or {}
        coords = geom.get("coordinates")
        if geom.get("type") != "MultiPolygon" or coords is None or len(coords) != 1 or \
                len(coords[0]) != 1 or len(coords[0][0]) != len(ring) or any(
                    abs(a[0] - b[0]) > 1e-12 or abs(a[1] - b[1]) > 1e-12
                    for a, b in zip(coords[0][0], ring)):
            errs.append(f"{os.path.basename(path)}[{k}]: geometry differs")
        if len(errs) > 5:
            break
    return errs
