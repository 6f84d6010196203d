"""Seeded input generators and their pure-Python expected outputs.

Everything here is deterministic per seed and uses no Spark, so every
expectation is computed independently of the engine under test.

* ``write_reference_inputs`` — the reference-shaped case-line CSV
  (FIXTURES.md §A1: positional, 10 columns, no header, blank ages,
  digits with stray characters, 2-character state codes in
  ``travel_detail``), the 67-county JSON dimension (§A4) with two
  case-line counties missing from it, and the daily increments: each
  drop holds that day's new cases plus a re-delivery of half of the
  previous day's, and each day has one travel-status update file for
  the unresolved cohort.
* ``write_corpus`` — a small TPC-H-shaped parquet corpus holding the
  tables the query mix reads, one directory per table.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
from collections import Counter, defaultdict

FL_COUNTIES = (
    "Alachua", "Baker", "Bay", "Bradford", "Brevard", "Broward", "Calhoun",
    "Charlotte", "Citrus", "Clay", "Collier", "Columbia", "Dade", "DeSoto",
    "Dixie", "Duval", "Escambia", "Flagler", "Franklin", "Gadsden",
    "Gilchrist", "Glades", "Gulf", "Hamilton", "Hardee", "Hendry", "Hernando",
    "Highlands", "Hillsborough", "Holmes", "Indian River", "Jackson",
    "Jefferson", "Lafayette", "Lake", "Lee", "Leon", "Levy", "Liberty",
    "Madison", "Manatee", "Marion", "Martin", "Monroe", "Nassau", "Okaloosa",
    "Okeechobee", "Orange", "Osceola", "Palm Beach", "Pasco", "Pinellas",
    "Polk", "Putnam", "St. Johns", "St. Lucie", "Santa Rosa", "Sarasota",
    "Seminole", "Sumter", "Suwannee", "Taylor", "Union", "Volusia", "Wakulla",
    "Walton", "Washington",
)
# Case-line counties with no row in the dimension (null location).
MISSING_COUNTIES = ("Unknown", "Out Of State")
PLACES = ("Canada", "New York City", "Spain", "Italy", "cruise ship", "china")
STATE_CODES = ("NY", "PA", "CA", "NJ", "ga")
UNRESOLVED = "Under Investigation"
START = dt.date(2020, 3, 1)
# File streams order micro-batches by modification time: pin distinct
# mtimes so day i is always batch i.
MTIME0 = 1_585_000_000


def county_weights(rng: random.Random) -> dict[str, float]:
    """Dade and Broward hold about half the rows; the rest fall off
    geometrically; the missing counties hold about 1 %."""
    rest = [c for c in FL_COUNTIES if c not in ("Dade", "Broward")]
    rng.shuffle(rest)
    w = {"Dade": 0.29, "Broward": 0.21}
    tail = [0.9 ** i for i in range(len(rest))]
    scale = 0.49 / sum(tail)
    w.update({c: t * scale for c, t in zip(rest, tail)})
    w.update({c: 0.005 for c in MISSING_COUNTIES})
    return w


def _case_row(rng: random.Random, k: int, day: dt.date, counties, weights) -> tuple[list[str], dict]:
    """One raw CSV line and the canonical values the engine should derive."""
    county = rng.choices(counties, weights)[0]
    age = None if rng.random() < 0.15 else rng.randint(0, 99)
    travel = rng.choices(("Yes", "No", "Unknown", UNRESOLVED), (2, 5, 1, 2))[0]
    if rng.random() < 0.6:
        detail_raw = ""
    else:
        toks = rng.sample(PLACES + STATE_CODES, rng.randint(1, 3))
        detail_raw = ";".join(rng.choice(("", " ")) + t for t in toks)
    raw = [
        str(k) + rng.choice(("", "", "", ",", " ", "*")),
        county,
        "" if age is None else str(age) + rng.choice(("", "", "+")),
        rng.choice(("Male", "Female", "Unknown")),
        travel,
        detail_raw,
        rng.choice(("Yes", "No", "")),
        rng.choice(("FL resident", "FL resident", "Non-FL resident")),
        day.strftime("%m/%d/%y"),
        "Yes" if rng.random() < 0.03 else "No",
    ]
    return raw, {"case_number": k, "county": county, "travel": travel, "date": day}


def _write_csv(path: str, rows: list[list[str]], mtime: int | None = None) -> None:
    with open(path, "w", newline="") as f:
        csv.writer(f).writerows(rows)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def write_reference_inputs(
    root: str, seed: int, n_cases: int, n_days: int, n_drops: int, drop_cases: int
) -> dict:
    """Write the refresh inputs and the daily drops under ``root``.

    Returns the pure-Python expectation used by the output checks."""
    rng = random.Random(seed)
    weights = county_weights(rng)
    counties = list(weights)
    cw = [weights[c] for c in counties]
    os.makedirs(root, exist_ok=True)

    dim = [
        {
            "county": c,
            "population": rng.randint(8_000, 2_700_000),
            "location": {
                "type": "Point",
                "coordinates": [round(-87.5 + rng.random() * 7.5, 6), round(24.5 + rng.random() * 6.5, 6)],
            },
        }
        for c in FL_COUNTIES
    ]
    counties_json = os.path.join(root, "florida_counties.json")
    with open(counties_json, "w") as f:
        json.dump(dim, f)

    # Exponential-ish epidemic curve over n_days, every day non-empty.
    day_w = [1.13 ** d for d in range(n_days)]
    days = [START + dt.timedelta(d) for d in range(n_days)]
    rows, cases = [], []
    for k in range(1, n_cases + 1):
        day = days[k - 1] if k <= n_days else rng.choices(days, day_w)[0]
        raw, c = _case_row(rng, k, day, counties, cw)
        rows.append(raw)
        cases.append(c)
    cases_csv = os.path.join(root, "cases.csv")
    _write_csv(cases_csv, rows)

    drops_dir = os.path.join(root, "drops")
    updates_dir = os.path.join(root, "updates")
    os.makedirs(drops_dir)
    os.makedirs(updates_dir)
    stored = {c["case_number"]: c["travel"] for c in cases}
    # The first drop re-delivers half of the refresh's last day.
    prev_rows = [r for r, c in zip(rows, cases) if c["date"] == days[-1]]
    next_k = n_cases + 1
    arrived = 0
    for i in range(n_drops):
        day = START + dt.timedelta(n_days + i)
        new_rows = []
        for k in range(next_k, next_k + drop_cases):
            raw, c = _case_row(rng, k, day, counties, cw)
            new_rows.append(raw)
            stored[k] = c["travel"]
        next_k += drop_cases
        redelivered = rng.sample(prev_rows, len(prev_rows) // 2)
        drop = new_rows + redelivered
        rng.shuffle(drop)
        arrived += len(drop)
        _write_csv(os.path.join(drops_dir, f"day-{i:03d}.csv"), drop, MTIME0 + 60 * i)
        prev_rows = new_rows
    # Status updates for the unresolved cohort, one file per day; each
    # file resolves a disjoint slice and re-sends some cases twice, the
    # later line (greater updated_at) carrying the final status.
    cohort = sorted(k for k, t in stored.items() if t == UNRESOLVED)
    rng.shuffle(cohort)
    per = -(-len(cohort) // max(n_drops, 1)) if cohort else 0
    updated = {}
    for i in range(n_drops):
        chunk = cohort[i * per:(i + 1) * per]
        lines = []
        for k in chunk:
            final = rng.choice(("Yes", "No"))
            if rng.random() < 0.2:
                lines.append([str(k), "Unknown", f"2020-04-{i + 1:02d} 08:00:00"])
            lines.append([str(k), final, f"2020-04-{i + 1:02d} 12:00:00"])
            updated[k] = final
        rng.shuffle(lines)
        _write_csv(os.path.join(updates_dir, f"day-{i:03d}.csv"), lines, MTIME0 + 60 * i)
    final_travel = {k: updated.get(k, t) for k, t in stored.items()}

    return {
        "cases_csv": cases_csv,
        "counties_json": counties_json,
        "drops_dir": drops_dir,
        "updates_dir": updates_dir,
        "n_drops": n_drops,
        "refresh": expected_refresh(cases, dim),
        "increments": expected_increments(final_travel, set(updated), arrived),
    }


def expected_refresh(cases: list[dict], dim: list[dict], sim_days: int = 14, k: int = 5) -> dict:
    """What run_csv_ingest → run_stats_pipeline → run_county_stats_pipeline
    must leave in the store, recomputed with plain Python."""
    per_day = Counter(c["date"] for c in cases)
    actual, cum = [], 0
    for d in sorted(per_day):
        cum += per_day[d]
        actual.append((d.isoformat(), float(cum)))
    rates = [b[1] / a[1] for a, b in zip(actual, actual[1:])]
    gf = sum(rates[-5:]) / len(rates[-5:])
    last_date = dt.date.fromisoformat(actual[-1][0])
    predicted = [
        ((last_date + dt.timedelta(i)).isoformat(), actual[-1][1] * gf ** i)
        for i in range(1, sim_days + 1)
    ]
    by_county = Counter(c["county"] for c in cases)
    top = sorted(by_county.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    pop = {d["county"]: d["population"] for d in dim}
    top5 = {}
    for county, n in top:
        days = {c["date"] for c in cases if c["county"] == county}
        top5[county] = {
            "rows": len(days),
            "final_count": n,
            "final_per_capita": n / (pop[county] / 1000) if county in pop else None,
        }
    return {"florida_rows": len(cases), "actual": actual, "predicted": predicted, "top5": top5}


def expected_increments(final_travel: dict, updated: set, arrived: int) -> dict:
    """Per travel value: (row count, sum of case numbers) of the final
    ``florida`` table, split by whether the case received an update."""
    groups: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for k, t in final_travel.items():
        g = groups[f"{'cohort' if k in updated else 'other'}:{t}"]
        g[0] += 1
        g[1] += k
    return {
        "rows": len(final_travel),
        "key_sum": sum(final_travel),
        "travel_groups": {g: tuple(v) for g, v in sorted(groups.items())},
        "rows_arrived": arrived,
        "rows_updated": len(updated),
    }


# ---------------------------------------------------------------------------
# Query-mix corpus
# ---------------------------------------------------------------------------

_WORDS = (
    "agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window a"
).split()
_LANGS = (("en", 0.5), ("de", 0.15), ("es", 0.15), ("fr", 0.1), ("zh", 0.1))


def write_corpus(root: str, seed: int, sf: float) -> str:
    """Write region, nation, customer, supplier, part, orders, lineitem,
    events and documents as ``root/<table>.parquet/part-0.parquet``.

    Shapes follow FIXTURES.md §B; ``sf`` scales row counts the way the
    TPC-H scale factor does (lineitem ≈ 6M × sf)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed % 2**64)
    prng = random.Random(seed)

    def put(name: str, cols: dict) -> None:
        d = os.path.join(root, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))

    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 20), int(200_000 * sf)
    n_ord, n_ev, n_doc = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    colors = np.array(["red", "blue", "green", "small", "large", "steel"])
    nouns = np.array(["widget", "bolt", "ring", "gear", "valve"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"])
    pk = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 6, n_part)], " "), nouns[rng.integers(0, 5, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
    })
    epoch = np.datetime64("1995-01-01", "D")
    odate = epoch + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    # 1-7 lines per order; ~3 % bulk orders (7 heavy lines) so the
    # large-volume query has answers.
    bulk = rng.random(n_ord) < 0.03
    nlines = np.where(bulk, 7, rng.integers(1, 8, n_ord))
    lk = np.repeat(np.arange(n_ord, dtype=np.int64), nlines)
    n_li = len(lk)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    qty = np.where(np.repeat(bulk, nlines), rng.integers(40, 51, n_li), rng.integers(1, 51, n_li)).astype(np.float64)
    put("lineitem", {
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": (np.repeat(odate, nlines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")).astype("datetime64[us]"),
    })
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n_ev, dtype=np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    })
    # Documents: random word runs, ~10 % near-duplicates of an earlier
    # document (one word swapped) so the similarity joins find pairs.
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and prng.random() < 0.1:
            words = texts[prng.randrange(i)].split()
            words[prng.randrange(len(words))] = prng.choice(_WORDS)
        else:
            words = prng.choices(_WORDS, k=prng.randint(20, 80))
        texts.append(" ".join(words))
    langs, lw = zip(*_LANGS)
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": prng.choices(langs, lw, k=n_doc),
        "source": [f"src{prng.randrange(20)}" for _ in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return root
