"""Seeded inputs for the medallion benchmark, written as parquet.

Crash entities follow the TPC-H-to-crash mapping: an order becomes a crash,
its lineitems (1 to 7) become vehicles, and lineitems numbered 1 to 3 become
people. Every Bronze field is a string in the FIXTURES A1-A3 domains, and
every week carries one crash of each A6 edge case. The hit-and-run label is
drawn from a logistic model of a few features plus seeded noise, so a
classifier can learn it. `expected.parquet` holds, for each key a correct
pipeline lands in Gold, the first time (epoch seconds) a Gold-worthy row of
it appears; the Gold row count after landing everything before t is the
number of entries with first_seen < t. It is computed here, independently
of the engine.

The TPC-H-shaped tables carry the column names and types of the engine's
query registry, drawn uniformly like the engine's own test tables.
"""
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_YEAR = 1995
YEARS = 7
SPAN_START = int(np.datetime64(f"{FIRST_YEAR}-01-01T00:00:00", "s").astype(np.int64))
SPAN_END = int(np.datetime64(f"{FIRST_YEAR + YEARS}-01-01T00:00:00", "s").astype(np.int64))

# Incremental weeks start here, so week blocks are aligned to it.
WEEK0 = int(np.datetime64("2000-01-01T00:00:00", "s").astype(np.int64))
WEEK = 7 * 86400

# Planted edge cases, one crash of each in every week, at positions spread
# evenly through the week and rotated from week to week. Every weekly op of
# the incremental workload therefore meets every cleaner rule.
EDGE = (
    "null_date",    # dropped
    "zero_coord",   # (0, 0): dropped
    "out_of_box",   # outside the Chicago box: dropped
    "null_coord",   # kept by the cleaner
    "exact_dup",    # the same row twice in one run
    "variant",      # same key, another injuries_total, same run
    "cross_run",    # same key again 364 days (52 weeks) later, in another run
    "null_hour",
    "cap_units",    # num_units 11 -> 10
    "cap_speed",    # posted_speed_limit 99 -> 75
    "no_units",     # no vehicles and no people
)

YES = ["Y", "y", "yes", "TRUE", "t", "1", "1.0"]
NO = ["N", "n", "no", "0", None]


def _pick(rng, values, n):
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def _strs(a):
    return pa.array([None if v is None else str(v) for v in a], type=pa.string())


def plant_edges(slot, week):
    """{class: mask over base crashes}. Slots run in time order, so a week is
    a block of consecutive slots; in a block of m crashes the K classes sit
    at positions ceil(c * m / K), rotated by the week number.
    """
    k = len(EDGE)
    order = np.argsort(slot)
    wk = week[order]
    _, first, size = np.unique(wk, return_index=True, return_counts=True)
    m = np.repeat(size, size)
    pos = np.arange(len(slot)) - np.repeat(first, size)
    assert m.min() >= k, "a week holds fewer crashes than there are edge classes"
    code = np.where(pos * k % m < k, (pos * k // m + wk) % k, -1)
    by_crash = np.empty_like(code)
    by_crash[order] = code
    return {name: by_crash == c for c, name in enumerate(EDGE)}


def crash_tables(seed: int, per_year: int):
    """(crashes, vehicles, people, expected) as pyarrow tables."""
    rng = np.random.default_rng([seed, 1])
    n = per_year * YEARS
    slot = rng.permutation(n)
    # Evenly spaced time slots; a crash's time is jittered inside its slot
    # but kept in its slot's week, so week sizes are the same for every seed.
    start = SPAN_START + slot * (SPAN_END - SPAN_START) // n
    week = (start - WEEK0) // WEEK
    jitter = (rng.random(n) * (SPAN_END - SPAN_START) / n).astype(np.int64)
    ts = np.minimum(start + jitter, WEEK0 + (week + 1) * WEEK - 1)
    edge = plant_edges(slot, week)
    keys = np.array([hashlib.sha256(f"{seed}:{i}".encode()).hexdigest() for i in range(n)],
                    dtype=object)

    hour = (ts % 86400) // 3600
    night = (hour <= 5) | (hour >= 20)
    lighting = np.where(night, _pick(rng, ["DARKNESS", "DARKNESS, LIGHTED ROAD",
                                           "DARKNESS, LIGHTED ROAD"], n),
                        _pick(rng, ["DAYLIGHT", "DAYLIGHT", "DAYLIGHT", "DAWN", "DUSK",
                                    "UNKNOWN"], n))
    crash_type = _pick(rng, ["NO INJURY / DRIVE AWAY"] * 3 + ["INJURY AND / OR TOW DUE TO CRASH"], n)
    control = _pick(rng, ["NO CONTROLS"] * 4 + ["TRAFFIC SIGNAL"] * 3 +
                    ["STOP SIGN/FLASHER"] * 2 + ["UNKNOWN", "YIELD"], n)
    units = rng.integers(1, 5, n)
    logit = (-2.8 + 1.5 * night + 0.9 * np.char.startswith(lighting.astype(str), "DARKNESS")
             + 1.0 * (crash_type == "NO INJURY / DRIVE AWAY") - 0.8 * (control == "TRAFFIC SIGNAL")
             + 0.4 * (units == 2))
    hit_run = rng.random(n) < 1.0 / (1.0 + np.exp(-logit))
    injured = crash_type != "NO INJURY / DRIVE AWAY"
    injuries = np.where(injured, rng.integers(1, 5, n), 0).astype(float)

    lat = np.round(41.645 + rng.random(n) * 0.45, 6).astype(object)
    lng = np.round(-87.94 + rng.random(n) * 0.43, 6).astype(object)
    zero, box = edge["zero_coord"], edge["out_of_box"]
    lat[zero], lng[zero] = "0", "0"
    lat[box], lng[box] = "40.5", "-87.7"
    lat[edge["null_coord"]], lng[edge["null_coord"]] = None, None

    null_date, null_hour = edge["null_date"], edge["null_hour"]
    cap_units, cap_speed = edge["cap_units"], edge["cap_speed"]
    millis = rng.random(n) < 0.3
    attrs = {
        "crash_record_id": keys,
        "crash_type": crash_type,
        "posted_speed_limit": np.where(cap_speed, "99", _pick(
            rng, ["15", "20", "25", "30", "30", "30", "35", "40", "45", "55"], n)),
        "weather_condition": _pick(rng, ["CLEAR"] * 6 + ["RAIN", "RAIN", "CLOUDY/OVERCAST", "SNOW",
                                   "SLEET/HAIL", "FOG/SMOKE/HAZE", "FREEZING RAIN/DRIZZLE",
                                   "UNKNOWN", None], n),
        "lane_cnt": _pick(rng, ["1", "2", "2", "3", "4", None], n),
        "hit_and_run_i": np.where(hit_run, _pick(rng, YES, n), _pick(rng, NO, n)),
        "beat_of_occurrence": rng.integers(111, 2535, n).astype(str).astype(object),
        "num_units": np.where(cap_units, "11", units.astype(str)).astype(object),
        "injuries_total": injuries.astype(str).astype(object),
        "latitude": lat,
        "longitude": lng,
        "traffic_control_device": control,
        "work_zone_i": _pick(rng, ["N"] * 6 + ["Y", None], n),
        "work_zone_type": _pick(rng, ["CONSTRUCTION", "MAINTENANCE", "UTILITY"] + [None] * 5, n),
        "private_property_i": _pick(rng, YES[:1] + NO + NO, n),
        "lighting_condition": lighting,
        "road_defect": _pick(rng, ["NO DEFECTS"] * 3 + ["UNKNOWN", "RUT, HOLES", "OTHER"], n),
        "roadway_surface_cond": _pick(rng, ["DRY"] * 4 + ["WET", "WET", "SNOW OR SLUSH", "ICE",
                                      "UNKNOWN", "OTHER"], n),
        "street_direction": _pick(rng, ["N", "S", "E", "W"], n),
        "trafficway_type": _pick(rng, ["NOT DIVIDED", "NOT DIVIDED", "DIVIDED - W/MEDIAN",
                                 "ONE-WAY", "FOUR WAY", "PARKING LOT", "OTHER"], n),
        "intersection_related_i": _pick(rng, YES[:3] + NO, n),
    }

    # Planted copies: row index into the base crashes, and its timestamp.
    exact = np.flatnonzero(edge["exact_dup"])
    variant = np.flatnonzero(edge["variant"])
    cross = np.flatnonzero(edge["cross_run"])
    rows = np.concatenate([np.arange(n), exact, variant, cross])
    row_ts = np.concatenate([ts, ts[exact], ts[variant], ts[cross] + 364 * 86400])
    # Every week carries every edge class, and every week from the 53rd on
    # also receives a cross-run copy from 52 weeks before.
    weeks = np.arange(week.min(), week.max() + 1)
    for name, mask in edge.items():
        assert np.isin(weeks, week[mask]).all(), f"a week without {name}"
    assert np.isin(weeks[52:], week[cross] + 52).all(), "a week without a cross-run copy"
    is_variant = np.zeros(len(rows), bool)
    is_variant[n + len(exact):n + len(exact) + len(variant)] = True

    iso = np.datetime_as_string(row_ts.astype("datetime64[s]"), unit="s").astype(object)
    iso = np.where(millis[rows], iso + ".000", iso)
    iso[null_date[rows]] = None
    row_hour = ((row_ts % 86400) // 3600).astype(str).astype(object)
    row_hour[null_hour[rows]] = None
    dow = (((row_ts // 86400) + 4) % 7 + 1).astype(str).astype(object)  # 1 = Sunday
    injuries_col = attrs["injuries_total"][rows].copy()
    injuries_col[is_variant] = "9.0"

    cols = {name: a[rows] for name, a in attrs.items()}
    cols.update(crash_date=iso, crash_hour=row_hour, crash_day_of_week=dow,
                injuries_total=injuries_col)
    order = ["crash_record_id", "crash_date", "crash_type", "posted_speed_limit",
             "weather_condition", "lane_cnt", "hit_and_run_i", "beat_of_occurrence",
             "num_units", "injuries_total", "crash_hour", "crash_day_of_week",
             "latitude", "longitude", "traffic_control_device", "work_zone_i",
             "work_zone_type", "private_property_i", "lighting_condition",
             "road_defect", "roadway_surface_cond", "street_direction",
             "trafficway_type", "intersection_related_i"]
    crashes = pa.table({c: _strs(cols[c]) for c in order})

    # Gold-worthy rows: a date, and coordinates null or inside the box.
    worthy = ~null_date[rows] & ~zero[rows] & ~box[rows]
    first = {}
    for k, t in zip(keys[rows][worthy], row_ts[worthy]):
        if k not in first or t < first[k]:
            first[k] = t
    expected = pa.table({"crash_record_id": pa.array(list(first.keys()), pa.string()),
                         "first_seen": pa.array(list(first.values()), pa.int64())})

    # Vehicles: 1-7 lineitems per base crash; people: lineitems 1-3.
    lines = np.where(edge["no_units"], 0, slot % 7 + 1)
    owner = np.repeat(np.arange(n), lines)
    unit_no = np.concatenate([np.arange(1, k + 1) for k in lines]) if n else np.array([], int)
    m = len(owner)
    vehicle_id = owner * 8 + unit_no
    vehicles = pa.table({
        "crash_record_id": _strs(keys[owner]),
        "unit_no": _strs(unit_no),
        "vehicle_id": _strs(vehicle_id),
        "unit_type": _strs(_pick(rng, ["DRIVER"] * 6 + ["PARKED", "PEDESTRIAN", "BICYCLE",
                                  "DRIVERLESS"], m)),
        "make": _strs(_pick(rng, ["FORD", "CHEVROLET", "TOYOTA", "HONDA", "NISSAN", "DODGE",
                             "JEEP", "HYUNDAI", "UNKNOWN", None], m)),
        "model": _strs(_pick(rng, ["SEDAN", "PICKUP", "SUV", "VAN", "BUS", "TRUCK", "UNKNOWN"], m)),
        "vehicle_year": _strs(rng.integers(1980, 2002, m)),
        "travel_direction": _strs(_pick(rng, ["N", "S", "E", "W", "UNKNOWN"], m)),
        "maneuver": _strs(_pick(rng, ["STRAIGHT AHEAD"] * 3 + ["TURNING LEFT", "TURNING RIGHT",
                                 "BACKING", "PARKED", "CHANGING LANES"], m)),
        "first_contact_point": _strs(_pick(rng, ["FRONT", "REAR", "SIDE-LEFT", "SIDE-RIGHT",
                                            "OTHER"], m)),
        "vehicle_defect": _strs(_pick(rng, ["NONE"] * 5 + ["UNKNOWN", "BRAKES", "TIRES"], m)),
        "vehicle_use": _strs(_pick(rng, ["PERSONAL"] * 5 + ["COMMERCIAL", "TAXI", "POLICE",
                                    "UNKNOWN"], m)),
        "towed_i": _strs(_pick(rng, ["Y", "N", "N", "N", None], m)),
    })
    p = np.flatnonzero(unit_no <= 3)
    k = len(p)
    age = rng.integers(16, 86, k).astype(str).astype(object)
    age[rng.random(k) < 0.05] = None
    people = pa.table({
        "crash_record_id": _strs(keys[owner[p]]),
        "person_id": _strs(["P%d" % v for v in vehicle_id[p]]),
        "person_type": _strs(_pick(rng, ["DRIVER"] * 3 + ["PASSENGER"], k)),
        "age": _strs(age),
        "sex": _strs(_pick(rng, ["M", "F", "X", None], k)),
        "seat_no": _strs(_pick(rng, ["1", "2", "3", "4", "5", None], k)),
        "injury_classification": _strs(_pick(rng, ["NO INDICATION OF INJURY"] * 3 + [
            "NONINCAPACITATING INJURY", "REPORTED, NOT EVIDENT", "INCAPACITATING INJURY",
            "FATAL"], k)),
        "safety_equipment": _strs(_pick(rng, ["SAFETY BELT USED"] * 3 + ["NONE PRESENT",
                                         "USAGE UNKNOWN"], k)),
        "airbag_deployed": _strs(_pick(rng, ["DID NOT DEPLOY"] * 3 + ["DEPLOYED, FRONT",
                                        "NOT APPLICABLE"], k)),
        "ejection": _strs(_pick(rng, ["NONE"] * 7 + ["TOTALLY EJECTED"], k)),
    })
    return crashes, vehicles, people, expected


def tpch_tables(seed: int, orders: int):
    """region, nation, customer, supplier, part, orders, lineitem."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part, n_line = orders // 10, max(10, orders // 150), orders * 2 // 15, orders * 4

    def days(start, span, size):
        d = np.datetime64(start, "D") + rng.integers(0, span, size)
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    def money(lo, hi, size):
        return np.round(lo + rng.random(size) * (hi - lo), 2)

    def names(prefix, size):
        return pa.array([f"{prefix}#{i:09d}" for i in range(size)], pa.string())

    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": _strs(_pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                              "HOUSEHOLD", "MACHINERY"], n_cust))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _strs(_pick(rng, ["blue", "old", "small", "new", "hot", "large", "cold",
                                        "red"], n_part) + " " +
                            _pick(rng, ["widget", "gizmo", "ring", "gear", "bolt", "plate",
                                        "anvil", "rod"], n_part)),
            "p_brand": _strs(["Brand#%d" % b for b in rng.integers(1, 26, n_part)]),
            "p_type": _strs(_pick(rng, ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                                        "PROMO"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
            "o_orderstatus": _strs(_pick(rng, ["F", "O", "P"], orders)),
            "o_totalprice": money(1000.0, 500000.0, orders),
            "o_orderdate": days("1995-01-01", 2404, orders),
            "o_orderpriority": _strs(_pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                 "4-NOT SPECIFIED", "5-LOW"], orders))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": money(901.0, 104999.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": _strs(_pick(rng, ["A", "N", "R"], n_line)),
            "l_linestatus": _strs(_pick(rng, ["F", "O"], n_line)),
            "l_shipdate": days("1995-01-02", 2498, n_line)}),
    }


def write(seed: int, out: Path, per_year: int, orders: int) -> None:
    """Write raw/{crashes,vehicles,people}, expected and tpch/<table>.parquet."""
    crashes, vehicles, people, expected = crash_tables(seed, per_year)
    for name, t in (("crashes", crashes), ("vehicles", vehicles), ("people", people)):
        (out / "raw" / name).mkdir(parents=True, exist_ok=True)
        pq.write_table(t, out / "raw" / name / "part-0.parquet")
    pq.write_table(expected, out / "expected.parquet")
    if orders:
        (out / "tpch").mkdir(parents=True, exist_ok=True)
        for name, t in tpch_tables(seed, orders).items():
            pq.write_table(t, out / "tpch" / f"{name}.parquet")
