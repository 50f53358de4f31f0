"""Seeded station-payload generator for the station_etl workload.

Writes, under the output directory:

- ``stations_seed.parquet``: the station table before the first batch, in
  the unified gas_station schema; it holds stations of other sources,
  whose keys no batch repeats;
- ``batches/bNNN-<dialect>-<kind>.jsonl``: one raw JSON payload per line,
  in the three collection dialects (``bp``: a bare array, ``mobil``: a
  ``Locations`` envelope, ``places``: a ``results`` envelope);
- ``truth.json``: the planted ground truth of every batch (kind, rows,
  distinct keys, keys new to the table, intra-batch duplicate share,
  overlap share).

The batch mix follows the reference's collection runs: every scheduled
run fetches a source's whole station list again. A dialect's first batch
(``first``) is therefore all keys the table does not hold yet. Each later
batch (``refetch``) is the same list again: every key is already stored
except the stations opened since the last run, and as many stations
closed. The reference gives no opening rate and no duplicate rate; the
generator plants ``opened_share`` new stations per re-fetch and
``dup_share`` intra-batch duplicates (a key repeated with other field
values), both small, so that they exercise the first-seen dedup and the
append without deciding the cost. The same seed and sizes always give
byte-identical files.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DIALECTS = ("bp", "mobil", "places")
PREFIX = {"bp": "BP", "mobil": "MB", "places": "PL"}
BRANDS = ("BP", "Mobil", "Z", "Caltex", "Gull", "Waitomo", "NPD", "Challenge")
CITIES = ("Auckland", "Wellington", "Christchurch", "Hamilton", "Tauranga",
          "Dunedin", "Napier", "Nelson", "Rotorua", "Whangarei")
STREETS = ("Main", "High", "Queen", "King", "Victoria", "Church", "Station",
           "Great South", "Beach", "Marine")
REGIONS = ("AUK", "WGN", "CAN", "WKO", "BOP", "OTA", "HKB", "NSN", "NTL")

SCHEMA = pa.schema([
    ("location_id", pa.string()), ("brand_name", pa.string()),
    ("location_name", pa.string()), ("latitude", pa.float64()),
    ("longitude", pa.float64()), ("address_line1", pa.string()),
    ("city", pa.string()), ("state_province", pa.string()),
    ("postal_code", pa.string()), ("country", pa.string())])


def _station(rng, dialect, key):
    """One station in the unified schema, as the dialect can express it."""
    brand = rng.choice(BRANDS)
    city = rng.choice(CITIES)
    addr = f"{rng.randint(1, 999)} {rng.choice(STREETS)} St"
    row = {
        "location_id": key,
        "brand_name": brand,
        "location_name": f"{brand} {city} {rng.randint(1, 99)}",
        "latitude": round(rng.uniform(-46.6, -34.4), 6),
        "longitude": round(rng.uniform(166.5, 178.5), 6),
        "address_line1": addr,
        "city": city,
        "state_province": rng.choice(REGIONS),
        "postal_code": f"{rng.randint(100, 9999):04d}",
        "country": "NZ",
    }
    if dialect == "places":
        # Places carries one name and derives city from the vicinity
        row["location_name"] = row["brand_name"] = f"{brand} {city}"
        row["address_line1"] = f"{addr}, {city}"
        row["state_province"] = row["postal_code"] = ""
    return row


def _payload_row(dialect, r):
    if dialect == "bp":
        return {"id": r["location_id"], "site_brand": r["brand_name"],
                "name": r["location_name"], "lat": r["latitude"],
                "lng": r["longitude"], "address": r["address_line1"],
                "city": r["city"], "state": r["state_province"],
                "postcode": r["postal_code"], "country_code": r["country"]}
    if dialect == "mobil":
        return {"LocationID": r["location_id"], "BrandName": r["brand_name"],
                "LocationName": r["location_name"],
                "Latitude": r["latitude"], "Longitude": r["longitude"],
                "AddressLine1": r["address_line1"], "City": r["city"],
                "StateProvince": r["state_province"],
                "PostalCode": r["postal_code"], "Country": r["country"]}
    return {"place_id": r["location_id"], "name": r["brand_name"],
            "geometry": {"location": {"lat": r["latitude"],
                                      "lng": r["longitude"]}},
            "vicinity": r["address_line1"]}


def _envelope(dialect, rows):
    if dialect == "bp":
        return rows
    return {"Locations": rows} if dialect == "mobil" else {"results": rows}


def generate(out, seed, batches=6, rows_per_batch=10000, seed_stations=4000,
             rows_per_payload=200, dup_share=0.02, opened_share=0.01):
    rng = random.Random(f"stations-{seed}")
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    next_id = {d: 0 for d in DIALECTS + ("other",)}
    stored = {d: [] for d in DIALECTS}

    def fresh(source):
        next_id[source] += 1
        prefix = PREFIX.get(source, "OT")
        return f"{prefix}-{seed % 1000:03d}-{next_id[source]:07d}"

    seed_rows = [_station(rng, DIALECTS[i % 3], fresh("other"))
                 for i in range(seed_stations)]
    pq.write_table(pa.Table.from_pylist(seed_rows, schema=SCHEMA),
                   os.path.join(out, "stations_seed.parquet"))

    truth = {"seed": seed, "seed_stations": seed_stations, "batches": []}
    for b in range(batches):
        dialect = DIALECTS[b % 3]
        kind = "refetch" if stored[dialect] else "first"
        n_dup = int(rows_per_batch * dup_share)
        n_list = rows_per_batch - n_dup
        n_new = int(n_list * opened_share) if kind == "refetch" else n_list
        # the whole list again: the stations still open, then the new ones
        overlap = rng.sample(stored[dialect], n_list - n_new)
        new = [fresh(dialect) for _ in range(n_new)]
        keys = overlap + new
        keys += [rng.choice(keys) for _ in range(n_dup)]
        rng.shuffle(keys)
        rows = [_station(rng, dialect, k) for k in keys]
        stored[dialect] = overlap + new
        name = f"b{b:03d}-{dialect}-{kind}.jsonl"
        with open(os.path.join(out, "batches", name), "w") as f:
            for p in range(0, len(rows), rows_per_payload):
                chunk = [_payload_row(dialect, r)
                         for r in rows[p:p + rows_per_payload]]
                f.write(json.dumps(_envelope(dialect, chunk),
                                   separators=(",", ":")) + "\n")
        truth["batches"].append({
            "file": name, "dialect": dialect, "kind": kind, "rows": len(rows),
            "distinct_keys": len(set(keys)), "new_keys": n_new,
            "dup_share": n_dup / len(rows),
            "overlap_share": len(overlap) / len(rows)})
    truth["stations_final"] = seed_stations + sum(
        b["new_keys"] for b in truth["batches"])
    truth["rows_by_kind"] = {
        k: sum(b["rows"] for b in truth["batches"] if b["kind"] == k)
        for k in ("first", "refetch")}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    return truth
