"""Seeded input generators for the workload benchmark.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files, a different seed writes different ones.
Besides the inputs, each generator returns (and writes as JSON) the metadata
the output checks derive their expectations from — the program under test
never sees that metadata.

Inputs:
  * MLS listing batches in the reference raw input schema (one ORC dir per
    load_date day), the six reference-data dims, and both schema files;
  * an events table for the event-replay workload.
"""

import datetime as dt
import decimal
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.orc as orc
import pyarrow.parquet as pq

MLS_CODES = ["MLS0", "MLS1", "MLS2"]
STATES = [("TX", "75001"), ("TX", "75002"), ("CA", "90210"), ("CA", "90211")]
PROPERTY_TYPES = ["SF", "CN", "TH", "MH", "LD", "MF"]
SUB_TYPES = ["SUB1", "SUB2", "sub3"]
STATUSES = ["A", "U", "S", "X"]
STREETS = ["OAK", "PINE", "ELM", "MAPLE", "CEDAR", "WILLOW", "BIRCH", "ASPEN",
           "HICKORY", "SPRUCE", "CHESTNUT", "MAGNOLIA"]
SUFFIXES = ["ST", "AVE", "RD", "LN", "DR", "CT"]
BASE_DAY = dt.date(2024, 3, 1)

# (dim name, columns, rows) — the reference-data dims every MLS job joins.
DIMS = [
    ("boards", [("mls", pa.string()), ("movedto", pa.string())],
     [("MLS0", None), ("MLS1", None), ("MLS2", None), ("OLDMLS", "MLS2")]),
    ("states", [("state", pa.string()), ("name", pa.string())],
     [("TX", "Texas"), ("CA", "California"), ("NY", "New York")]),
    ("zipcodes", [("zipcode", pa.string()), ("state", pa.string())],
     [("75001", "TX"), ("75002", "TX"), ("90210", "CA"), ("90211", "CA")]),
    ("psub", [("property_sub_type", pa.string())],
     [("SUB1",), ("SUB2",), ("sub3",)]),
    ("counties", [("fips", pa.string()), ("state", pa.string()),
                  ("basename", pa.string())],
     [("48113", "TX", "Dallas"), ("06037", "CA", "Los Angeles"),
      ("36061", "NY", "New York")]),
    ("geo_ids", [("fips", pa.string()), ("censustract", pa.string()),
                 ("censustractgeoid", pa.string()),
                 ("censustractname", pa.string())],
     [("48113", "0001.00", "48113000100", "Tract 1"),
      ("06037", "0002.00", "06037000200", "Tract 2"),
      ("48113", "0003.00", "48113000300", "Tract 3")]),
]

D = decimal.Decimal


def _dec(p, s):
    return pa.decimal128(p, s)


# The raw listing columns, in the reference input order: (name, type, fn),
# where fn(key, snap) gives the value from the per-key attributes `key` and
# the per-snapshot attributes `snap`.
def _raw_columns():
    ts = pa.timestamp("us")
    s = pa.string()

    def pick(name, pool):
        return lambda k, sn: pool[k["h"] % len(pool)] if pool else None

    def txt(prefix):
        return lambda k, sn: f"{prefix} {k['n'] % 97}"

    def day_off(base, field):
        return lambda k, sn: base + dt.timedelta(days=k[field])

    cols = [
        ("created_datetime", ts, lambda k, sn: dt.datetime(2024, 1, 5, 10, 30)),
        ("mls", s, lambda k, sn: k["mls"]),
        ("mls_listing_id", s, lambda k, sn: k["id"]),
        ("unit_type", s, pick("unit_type", ["UnitTypeNumber0", "UnitTypeNumber1", None])),
        ("unit", s, lambda k, sn: None),
        ("latitude", _dec(9, 6), lambda k, sn: D(k["n"] % 100) / D(4) + D("32.25")),
        ("longitude", _dec(9, 6), lambda k, sn: D("-96.5") - D(k["n"] % 50) / D(4)),
        ("legal_description", s, lambda k, sn: f"Legal desc {k['n']}"),
        ("subdivision", s, pick("subdivision", ["WILLOW CREEK ESTATES", "OAK HILLS", None])),
        ("lot", s, pick("lot", ["LOT 7", "15", None])),
        ("block", s, lambda k, sn: f"B{k['n'] % 20}"),
        ("legal_tract", s, txt("TR")),
        ("book", s, txt("BK")),
        ("section", s, pick("section", ["05", "39", "7", None])),
        ("township", s, pick("township", ["12N", "T12N", None])),
        ("range", s, pick("range", ["09E", "T09W", None])),
        ("apn", s, lambda k, sn: f"{k['n']:09d}"),
        ("county_name", s, pick("county_name", ["Dallas", "Los Angeles", None])),
        ("fips", s, pick("fips", ["48113", "06037", None])),
        ("census_tract_geo_id", s, pick("census_tract_geo_id", ["0001.00", "0002.00", None])),
        ("school_district", s, pick("school_district", ["Dallas ISD", "Plano ISD", None])),
        ("property_type", s, lambda k, sn: k["ptype"]),
        ("property_sub_type", s, lambda k, sn: k["psub"]),
        ("property_description", s, lambda k, sn: f"Desc {k['n']}"),
        ("lot_size_acres", _dec(16, 4), lambda k, sn: D(k["h"] % 400) / D(4)),
        ("lot_size_sq_ft", _dec(16, 4), lambda k, sn: D(4000 + k["h"] % 9000)),
        ("zoning", s, txt("Z-")),
        ("restrictions", s, txt("Restr")),
        ("easements", s, txt("Ease")),
        ("water_source", s, pick("water_source", ["City Water", "Deep Well", "Water District", None])),
        ("septic_sewer", s, pick("septic_sewer", ["Septic Tank", "City Sewer", None])),
        ("sfha", s, pick("sfha", ["Y", "n", None])),
        ("gated_community", s, pick("gated_community", ["Y", "N", None])),
        ("hoa", s, pick("hoa", ["Y", "N", "Mandatory", None])),
        ("hoa_name", s, pick("hoa_name", ["Willow HOA", "Creek HOA", None])),
        ("hoa_management_co", s, txt("Mgmt")),
        ("hoa_management_co_phone", s, pick("phone", ["214-555-1234", "(214) 555-9876", None])),
        ("occupant_type", s, pick("occupant_type", ["Owner", "Tenant", None])),
        ("ownership_type", s, pick("ownership_type", ["Fee Simple", "Leasehold"])),
        ("owner_type", s, pick("owner_type", ["Individual", "Corporate"])),
        ("owner_name", s, pick("owner_name", ["Jane Doe", "John Roe", None])),
        ("owner_phone", s, pick("phone", ["214-555-1234", "2145551234x99", None])),
        ("year_built", pa.int16(), lambda k, sn: 1950 + k["h"] % 70),
        ("year_updated", pa.int16(), lambda k, sn: 2000 + k["h"] % 20),
        ("number_of_units", pa.int32(), lambda k, sn: 1 + k["h"] % 4),
        ("living_area_sq_ft", _dec(16, 4), lambda k, sn: D(900 + k["h"] % 3000)),
        ("living_area_sq_ft_source", s, pick("lasf", ["Tax Records", "Appraiser", None])),
        ("building_style", s, pick("building_style", ["Ranch", "Colonial", None])),
        ("stories", _dec(8, 4), lambda k, sn: D(1 + k["h"] % 3)),
        ("beds", pa.int32(), lambda k, sn: 1 + k["h"] % 5),
        ("full_baths", pa.int32(), lambda k, sn: 1 + k["h"] % 3),
        ("half_baths", pa.int32(), lambda k, sn: k["h"] % 2),
        ("basement", s, pick("basement", ["Y", "FALSE", None])),
        ("finished_basement_pct", _dec(8, 4), lambda k, sn: D(k["h"] % 100)),
        ("garage_type", s, pick("garage_type", ["G", "c", None])),
        ("garage_style", s, pick("garage_style", ["Attached", "Detached", None])),
        ("garage_spaces", _dec(16, 4), lambda k, sn: D(k["h"] % 4)),
        ("roof_type", s, pick("roof_type", ["Composition", "Metal", None])),
        ("exterior_material", s, pick("exterior_material", ["Brick", "Siding", None])),
        ("foundation", s, pick("foundation", ["Slab", "Pier", None])),
        ("pool", s, pick("pool", ["In-ground", "None", None])),
        ("condition", s, pick("condition", ["Good", "Fair", None])),
        ("property_tax_appraisal", _dec(16, 4), lambda k, sn: D("200000.25") + D(k["n"] % 1000)),
        ("property_tax", _dec(16, 4), lambda k, sn: D("5000.5") + D(k["n"] % 100)),
        ("property_tax_year", pa.int16(), lambda k, sn: 2021 + k["h"] % 3),
        ("hoa_dues", _dec(16, 4), lambda k, sn: D("100.25") + D(k["n"] % 50)),
        ("hoa_dues_frequency", pa.int32(), lambda k, sn: [12, 4, 1][k["h"] % 3]),
        ("hoa_dues_description", s, txt("Dues desc")),
        ("rent_sale", s, lambda k, sn: k["rent_sale"]),
        ("entry_date", pa.date32(), day_off(dt.date(2023, 11, 1), "d1")),
        ("listing_date", pa.date32(), day_off(dt.date(2023, 12, 1), "d2")),
        ("listing_status", s, lambda k, sn: sn["status"]),
        ("listing_status_detail", s, pick("lsd", ["Active", "Pending", None])),
        ("status_date", pa.date32(), lambda k, sn: sn["day"]),
        ("current_price", _dec(16, 4), lambda k, sn: D(sn["price"])),
        ("current_price_as_of_date", pa.date32(), lambda k, sn: sn["day"]),
        ("orig_price", _dec(16, 4), lambda k, sn: D(k["orig_price"])),
        ("orig_listing_date", pa.date32(), day_off(dt.date(2023, 10, 1), "d1")),
        ("contract_date", pa.date32(), lambda k, sn: None),
        ("closed_price", _dec(16, 4), lambda k, sn: None),
        ("closed_date", pa.date32(), lambda k, sn: None),
        ("days_on_market", pa.int32(), lambda k, sn: sn["dom"]),
        ("dom_date", ts, lambda k, sn: dt.datetime(2024, 2, 10, 8, 0)),
        ("cumulative_days_on_market", pa.int32(), lambda k, sn: sn["dom"]),
        ("sale_circumstances", s, pick("sc", ["NONE", "Estate Sale", None])),
        ("listing_conditions", s, pick("lc", ["As-Is", None])),
        ("listing_url", s, lambda k, sn: f"http://listing/{k['id']}"),
        ("listing_image_url", s, lambda k, sn: f"http://img/{k['id']}"),
        ("listing_image_url_count", pa.int32(), lambda k, sn: k["h"] % 40),
        ("listing_image_url_date", pa.date32(), day_off(dt.date(2024, 1, 5), "d2")),
        ("loan_amount", _dec(16, 4), lambda k, sn: D("100000.75") + D(k["n"] % 200)),
        ("public_remarks", s, lambda k, sn: f"Remarks {sn['seq']} {k['id']}"),
        ("realtor_remarks", s, pick("rr", ["Realtor note 1", "Realtor note 2", None])),
        ("listing_broker_name", s, pick("lbn", ["Broker X", "Broker Y"])),
        ("listing_broker_id", s, lambda k, sn: f"BR{k['n'] % 30}"),
        ("listing_agent_name", s, pick("lan", ["Agent Ann", "Agent Bob", None])),
        ("listing_agent_id", s, lambda k, sn: f"AG{k['n'] % 40}"),
        ("listing_agent_phone", s, pick("phone", ["214-555-1234", "555-1234", None])),
        ("listing_agent_email", s, pick("email", ["agent@example.com", None])),
        ("brokerage_name", s, txt("Brokerage")),
        ("brokerage_phone", s, pick("phone", ["(214) 555-9876", None])),
        ("selling_agent_name", s, pick("san", ["Seller Sam", None])),
        ("selling_agent_id", s, lambda k, sn: f"SA{k['n'] % 25}"),
        ("commissions", s, pick("comm", ["3%", "2.5% split", None])),
        ("buyer_agent_name", s, pick("ban", ["Buyer Bea", None])),
        ("buyer_agent_id", s, lambda k, sn: f"BA{k['n'] % 35}"),
        ("buyer_commission_pct", _dec(8, 4), lambda k, sn: D("2.5")),
        ("street_address_raw", s, lambda k, sn: k["addr"]),
        ("city_raw", s, pick("city", ["DALLAS", "PLANO", "LOS ANGELES"])),
        ("state_raw", s, lambda k, sn: k["state"]),
        ("zip_raw", s, lambda k, sn: k["zip"]),
        ("source", s, lambda k, sn: f"FEED{k['n'] % 3}"),
        ("source_reference", s, lambda k, sn: f"SRC{k['n'] % 5}"),
        ("source_listing_id", s, lambda k, sn: f"SL{k['id']}"),
        ("source_as_of_date", ts, lambda k, sn: sn["soad"]),
        ("load_date", s, lambda k, sn: sn["load_date"]),
    ]
    return cols


RAW_COLUMNS = _raw_columns()
RAW_SCHEMA = pa.schema([(n, t) for n, t, _ in RAW_COLUMNS])


def stub_property_id(street):
    """The stub property service's answer for one street address: a pure
    function of md5(street) — None when the service knows nothing."""
    hx = hashlib.md5(street.encode("utf-8")).hexdigest()
    return None if int(hx[0], 16) % 4 == 0 else int(hx[:12], 16)


def row_hash(mls, listing_id, soad, asg):
    """Order-independent keyed hash term of one curated row: two 32-bit
    slices of md5 over the key, the snapshot timestamp and the property id
    (the JVM computes the identical expression in Spark SQL)."""
    s = "|".join([mls, listing_id, soad, "" if asg is None else str(asg)])
    hx = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(hx[:8], 16), int(hx[8:16], 16)


def _write_orc(path, rows):
    os.makedirs(path, exist_ok=True)
    cols = {n: [fn(k, sn) for k, sn in rows] for n, _, fn in RAW_COLUMNS}
    table = pa.table(cols, schema=RAW_SCHEMA)
    orc.write_table(table, os.path.join(path, "part-00000.orc"),
                    compression="zlib")


def _day(d):
    return BASE_DAY + dt.timedelta(days=d)


def _soad(d):
    return dt.datetime.combine(_day(d), dt.time(23, 0))


class _Listings:
    """Key universe plus per-key snapshot history of one generator run."""

    def __init__(self, rng):
        self.rng = rng
        self.keys = []          # per-key attribute dicts (valid keys)
        self.snaps = {}         # key index -> list of snapshot dicts
        self.next_n = 0

    def new_key(self, valid=True):
        n = self.next_n
        self.next_n += 1
        r = self.rng
        state, zipc = STATES[r.randrange(len(STATES))]
        k = {
            "n": n, "h": r.randrange(1 << 30),
            "mls": MLS_CODES[r.randrange(3)] if valid else "NOPE",
            "id": f"L{n:07d}",
            "ptype": PROPERTY_TYPES[r.randrange(len(PROPERTY_TYPES))],
            "psub": SUB_TYPES[r.randrange(3)],
            "rent_sale": "Sale" if r.random() < 0.8 else "Rental",
            "state": state, "zip": zipc,
            "addr": f"{100 + n} {STREETS[r.randrange(len(STREETS))]} "
                    f"{SUFFIXES[r.randrange(len(SUFFIXES))]}",
            "orig_price": 100000 + 1000 * r.randrange(400),
            "d1": r.randrange(28), "d2": r.randrange(20),
        }
        if valid:
            self.keys.append(k)
            self.snaps[len(self.keys) - 1] = []
        return k

    def snapshot(self, ki, day, prev=None):
        r = self.rng
        price = (prev["price"] + 1000 * (1 + r.randrange(50))) if prev \
            else 150000 + 1000 * r.randrange(500)
        sn = {"day": _day(day), "soad": _soad(day),
              "load_date": _day(day).isoformat(),
              "status": STATUSES[r.randrange(4)], "price": price,
              "dom": r.randrange(120), "seq": day}
        if ki is not None:
            self.snaps[ki].append(sn)
        return sn


def mls_inputs(out, seed, base_rows, daily_rows, days):
    """Write the MLS daily-loop inputs under `out` and return the metadata.

    Day 0 is the base batch (all new keys, `base_rows` of them); days
    1..`days` are daily batches of `daily_rows` rows each, mixing updates to
    existing keys (40%), new keys (35%), outdated re-sends of an older
    snapshot (15%) and rows that fail validation (10%, an unknown MLS
    code). Each batch lands as one ORC dir `listings/<load_date>`.
    """
    rng = random.Random(seed)
    L = _Listings(rng)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for name, cols, rows in DIMS:
        schema = pa.schema(cols)
        t = pa.table({c: [r[i] for r in rows] for i, (c, _) in enumerate(cols)},
                     schema=schema)
        os.makedirs(f"{out}/dim_{name}")
        orc.write_table(t, f"{out}/dim_{name}/part-00000.orc")
    meta = {"seed": seed, "base_rows": base_rows, "daily_rows": daily_rows,
            "days": []}
    base = []
    for _ in range(base_rows):
        L.new_key()
        ki = len(L.keys) - 1
        base.append((L.keys[ki], L.snapshot(ki, 0)))
    _write_orc(f"{out}/listings/{_day(0).isoformat()}", base)
    meta["days"].append(_expect(L, 0, len(base), 0, 0))
    for d in range(1, days + 1):
        n_upd = daily_rows * 40 // 100
        n_new = daily_rows * 35 // 100
        n_old = daily_rows * 15 // 100
        n_bad = daily_rows - n_upd - n_new - n_old
        pool = list(range(len(L.keys)))
        touched = rng.sample(pool, n_upd + n_old)
        rows = []
        for ki in touched[:n_upd]:
            rows.append((L.keys[ki], L.snapshot(ki, d, L.snaps[ki][-1])))
        # Outdated re-sends: an earlier snapshot of a key that has been
        # updated since (or is updated today), sent again unchanged.
        resent = 0
        for ki in touched[n_upd:] + touched[:n_upd]:
            if resent == n_old:
                break
            if len(L.snaps[ki]) >= 2:
                old = L.snaps[ki][rng.randrange(len(L.snaps[ki]) - 1)]
                rows.append((L.keys[ki], dict(old, load_date=_day(d).isoformat())))
                resent += 1
        for _ in range(n_new):
            L.new_key()
            ki = len(L.keys) - 1
            rows.append((L.keys[ki], L.snapshot(ki, d)))
        for _ in range(n_bad):
            k = L.new_key(valid=False)
            rows.append((k, L.snapshot(None, d)))
        rng.shuffle(rows)
        _write_orc(f"{out}/listings/{_day(d).isoformat()}", rows)
        meta["days"].append(_expect(L, d, len(rows), n_bad, resent))
    for res in ("mls_listings_schema.json", "mls_listings_hist_schema.json"):
        shutil.copy(os.path.join(SRC_RESOURCES, res), f"{out}/{res}")
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def _expect(L, d, rows, rejected, outdated):
    """Expected table state after day `d` has been curated: the latest
    snapshot per valid key wins, the history keeps every distinct
    (key, source_as_of_date) snapshot (each update changes a tracked
    column), and the property id is the stub's answer for the address."""
    h1 = h2 = curated = hist = 0
    for ki, k in enumerate(L.keys):
        seen = [s for s in L.snaps[ki] if s["seq"] <= d]
        if not seen:
            continue
        curated += 1
        hist += len({s["soad"] for s in seen})
        win = max(seen, key=lambda s: s["soad"])
        a, b = row_hash(k["mls"], k["id"],
                        win["soad"].strftime("%Y-%m-%d %H:%M:%S"),
                        stub_property_id(k["addr"]))
        h1 += a
        h2 += b
    return {"day": d, "load_date": _day(d).isoformat(), "rows": rows,
            "rejected": rejected, "outdated": outdated,
            "curated_rows": curated, "hist_rows": hist,
            "hash1": h1, "hash2": h2}


EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def event_inputs(out, seed, n_events, n_users):
    """Write `events.parquet` under `out` in the shape the stream gates
    read: `n_events` events of `n_users` users over 30 days."""
    rng = random.Random(seed)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    t0 = dt.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10 ** 6
    stamps = sorted(rng.randrange(span_us) for _ in range(n_events))
    ev = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=u) for u in stamps],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_events)],
                            pa.int64()),
        "event_type": pa.array([EVENT_TYPES[rng.randrange(5)]
                                for _ in range(n_events)], pa.string()),
        "value": pa.array([round(rng.expovariate(1 / 50.0), 2)
                           for _ in range(n_events)], pa.float64()),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}'
                           for _ in range(n_events)], pa.string()),
    })
    pq.write_table(ev, f"{out}/events.parquet")
    meta = {"seed": seed, "events": n_events, "users": n_users}
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


SRC_RESOURCES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "..", "src", "main", "resources")
