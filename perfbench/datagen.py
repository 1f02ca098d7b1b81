"""Seeded input generators for the benchmark.

``write_star_tables`` writes the ten query tables (TPC-H-style star
schema, ``events``, ``documents``, ``embeddings``) in the layout and
types the registered queries read: one ``<table>.parquet`` file each,
with the row counts, column types, key and date ranges and category
sets of the fixed scale-factor-0.1 tables, so the benchmark needs no
data from outside its checkout. ``write_etl_inputs`` writes the raw
files ``pipeline.star_schema.run_pipeline`` reads (FIXTURES.md
sections 1-7, with the dirty values the parsers exist for) and returns
the row and null counts each output table must have, derived from the
generated values alone.

The same seed always gives the same bytes, so two commits measured with
one seed see identical inputs.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
STAR_INPUT_ROWS = sum(STAR_ROWS.values()) + 5 + 25  # plus region and nation

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
_PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]


def _days(start: str, end: str, rng: np.random.Generator, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, columns: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(columns), path)


def write_star_tables(out_dir: str, seed: int) -> int:
    """Write the query tables under ``out_dir``; return their total bytes."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = STAR_ROWS
    i32 = pa.int32()

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    parts = np.arange(n["part"], dtype=np.int64)
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": parts,
        "p_name": np.char.add(
            np.char.add(rng.choice(_PART_ADJ, n["part"]), " "),
            rng.choice(_PART_NOUN, n["part"]),
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
        "p_type": rng.choice(_PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900.0 + (parts % 1000) / 10.0, 1),
    })
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days("1995-01-01", "2001-08-01", rng, n["orders"]),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days("1995-01-02", "2001-11-04", rng, m),
    })
    e = n["events"]
    offsets_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e))
    _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, e),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    _write(f"{out_dir}/documents.parquet", _documents(rng, n["documents"]))
    _write(f"{out_dir}/embeddings.parquet", _embeddings(rng, n["embeddings"]))
    return sum(os.path.getsize(f"{out_dir}/{f}") for f in os.listdir(out_dir))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random word docs; 5% are an earlier doc plus " dup" (near
    duplicates) and 0.2% exact copies, as the dedup queries expect."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[rng.integers(i)] + " dup")
        elif i and r < 0.052:
            texts.append(texts[rng.integers(i)])
        else:
            words = rng.choice(_VOCAB, rng.integers(10, 101))
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    """Unit 64-d float vectors around ten labelled centres."""
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] * 0.5 + rng.normal(0.0, 1.0, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


# ---------------------------------------------------------------------------
# ETL raw inputs (FIXTURES.md sections 1-7)

ETL_FACT_PARTS = 8
_SAS_EPOCH = np.datetime64("1960-01-01", "D")


def _names(rng: np.random.Generator, count: int, taken: set[str]) -> list[str]:
    """``count`` distinct capitalised pseudo-words, none in ``taken``
    (compared case-insensitively)."""
    syllables = ["ka", "lo", "mi", "ra", "tu", "ve", "sha", "no", "ri", "ban", "dor", "el"]
    out: list[str] = []
    while len(out) < count:
        word = "".join(rng.choice(syllables, rng.integers(2, 5))).capitalize()
        if word.upper() not in taken:
            taken.add(word.upper())
            out.append(word)
    return out


def _codes(rng: np.random.Generator, count: int, width: int, alphabet: str) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    letters = list(alphabet)
    while len(out) < count:
        code = "".join(rng.choice(letters, width))
        if code not in seen:
            seen.add(code)
            out.append(code)
    return out


def _csv_field(value) -> str:
    if value is None:
        return ""
    text = str(value)
    return f'"{text}"' if "," in text else text


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def write_etl_inputs(raw_dir: str, seed: int, fact_rows: int) -> dict:
    """Write the seven raw inputs under ``raw_dir``.

    Returns ``{"bytes": total input bytes, "rows": total input rows and
    lines, "tables": {table: {"rows": n, "nulls": {column: k}}}}`` for the
    ten tables ``run_pipeline`` writes (no temperature file is written, so
    ``fact_temperature`` is skipped).
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(f"{raw_dir}/sas_data", exist_ok=True)
    expected: dict[str, dict] = {}

    # Countries: 240 world countries; 235 internal I94 codes, of which 200
    # name a world country and 35 are listed in the correction file.
    taken: set[str] = set()
    world = _names(rng, 230, taken)
    world += [f"{w}, {s}" for w, s in zip(_names(rng, 10, taken), ["North", "South"] * 5)]
    cc_lines = ["COUNTRY,COUNTRY CODE,ISO CODES,POPULATION,AREA KM2,GDP $USD"]
    isos = _codes(rng, len(world), 3, string.ascii_uppercase)
    for k, name in enumerate(world):
        phone = "1-684" if k % 60 == 7 else str(rng.integers(1, 999))
        gdp = "" if k % 25 == 3 else f"{rng.integers(1, 2000) / 100:.2f} Billion"
        cc_lines.append(",".join([
            _csv_field(name), phone, f"{isos[k][:2]} / {isos[k]}",
            str(rng.integers(10_000, 300_000_000)), str(rng.integers(100, 9_000_000)), gdp,
        ]))
    _write_lines(f"{raw_dir}/country_codes.csv", cc_lines)

    int_codes = rng.choice(np.arange(100, 1000), 235, replace=False)
    int_lines = []
    unmatched = ["int_country_code,int_country_name,actual_country_name,comment"]
    odd = _names(rng, 35, taken)
    for k, code in enumerate(int_codes):
        if k < 200:
            name = world[k].upper()
        elif k == 200:
            name = "MEXICO Air Sea, and Not Reed (I-94, no land arrivals)"
        else:
            name = f"{odd[k - 200].upper()}, ST {odd[k - 201].upper()}"
        int_lines.append(f"{code} =  '{name}'")
        if k >= 200:
            # Every third correction has no actual name (-> NULL).
            actual = None if k % 3 == 0 else world[200 + (k % 40)]
            comment = "An Island" if actual is None else None
            unmatched.append(",".join(
                [str(code), _csv_field(name), _csv_field(actual), _csv_field(comment)]
            ))
    _write_lines(f"{raw_dir}/internal_country_codes.txt", int_lines)
    _write_lines(f"{raw_dir}/unmatched_countries_updated.csv", unmatched)
    expected["dim_countries"] = {"rows": 235, "nulls": {"country_name": 0}}

    # Ports: 590 tab-separated, quoted, with trailing spaces in the name.
    ports = _codes(rng, 590, 3, string.ascii_uppercase)
    port_names = _names(rng, 590, taken)
    states = _codes(rng, 50, 2, string.ascii_uppercase)
    _write_lines(f"{raw_dir}/port_of_entry.txt", [
        f"'{p}'\t=\t'{n.upper()}, {states[k % 50]} '" for k, (p, n) in enumerate(zip(ports, port_names))
    ])
    expected["dim_port_of_entry"] = {"rows": 590, "nulls": {"port_of_entry_name": 0}}

    # Airlines: 1652 codes; some names carry a quoted comma.
    airlines = _codes(rng, 1652, 3, string.ascii_uppercase + string.digits)
    airline_names = _names(rng, 1652, taken)
    _write_lines(f"{raw_dir}/airlines.csv", ["Code,Airline"] + [
        f"{c},{_csv_field(n + ' Aviation, AG' if k % 9 == 0 else n + ' Air')}"
        for k, (c, n) in enumerate(zip(airlines, airline_names))
    ])
    expected["dim_airlines"] = {"rows": 1652, "nulls": {"airline_name": 0}}
    expected["dim_travel_modes"] = {"rows": 4, "nulls": {"travel_mode_name": 0}}
    expected["dim_visa_categories"] = {"rows": 3, "nulls": {"visa_category_name": 0}}

    # Demographics: 590 cities x 4-5 races, city stats repeated per race.
    state_names = _names(rng, 50, taken)
    cities = _names(rng, 590, taken)
    races = ["White", "Asian", "Hispanic or Latino", "Black or African-American",
             "American Indian and Alaska Native"]
    demo = ["City;State;Median Age;Male Population;Female Population;Total Population;"
            "Number of Veterans;Foreign-born;Average Household Size;State Code;Race;Count"]
    race_rows = 0
    used_states = set()
    for k, city in enumerate(cities):
        s = int(rng.integers(0, 50))
        used_states.add(s)
        male, female = (int(x) for x in rng.integers(20_000, 500_000, 2))
        blank = k % 40 == 5  # nullable stats left empty
        stats = [
            f"{rng.integers(250, 450) / 10:.1f}",
            "" if blank else str(male), "" if blank else str(female), str(male + female),
            "" if blank else str(rng.integers(1_000, 40_000)),
            "" if blank else str(rng.integers(1_000, 90_000)),
            "" if blank else f"{rng.integers(200, 400) / 100:.2f}",
        ]
        for race in races[: 4 + k % 2]:
            demo.append(";".join([city, state_names[s], *stats, states[s], race,
                                  str(rng.integers(100, 100_000))]))
            race_rows += 1
    _write_lines(f"{raw_dir}/us-cities-demographics.csv", demo)
    expected["fact_us_population"] = {"rows": 590, "nulls": {"city": 0}}
    expected["fact_us_race"] = {"rows": race_rows, "nulls": {"city": 0}}
    expected["dim_states"] = {"rows": len(used_states), "nulls": {"state_name": 0}}

    # Immigration fact (sas_data): all numerics DOUBLE, as the SAS export.
    n = fact_rows
    arr = rng.integers(0, 366, n) + (np.datetime64("2016-01-01", "D") - _SAS_EPOCH).astype(int)
    dep = arr + rng.integers(0, 60, n)
    dep_null = rng.random(n) < 0.05
    arr_dates = _SAS_EPOCH + arr.astype("timedelta64[D]")
    months = arr_dates.astype("datetime64[M]").astype(int) % 12 + 1
    ages = rng.integers(0, 90, n)
    insnum = rng.choice(np.array(["", "3668", "5921", "XM0167", "10342"], dtype=object), n,
                        p=[0.9, 0.03, 0.03, 0.02, 0.02])
    insnum_null = insnum == ""
    carriers = np.array(airlines[:200] + ["*GA"], dtype=object)
    codes = int_codes.astype(np.float64)
    fact = {
        "cicid": np.arange(1, n + 1, dtype=np.float64),
        "i94yr": np.full(n, 2016.0),
        "i94mon": months.astype(np.float64),
        "i94cit": rng.choice(codes, n),
        "i94res": rng.choice(codes, n),
        "i94port": rng.choice(np.array(ports, dtype=object), n),
        "arrdate": arr.astype(np.float64),
        "i94mode": pa.array(rng.choice([1.0, 2.0, 3.0, 9.0], n), mask=rng.random(n) < 0.01),
        "i94addr": pa.array(rng.choice(np.array(states + ["99"], dtype=object), n),
                            mask=rng.random(n) < 0.05),
        "depdate": pa.array(dep.astype(np.float64), mask=dep_null),
        "i94bir": ages.astype(np.float64),
        "i94visa": rng.choice([1.0, 2.0, 3.0], n),
        "count": np.ones(n),
        "dtadfile": np.datetime_as_string(arr_dates, unit="D").astype(object),
        "visapost": pa.array(rng.choice(np.array(["SYD", "TKY", "MEX"], dtype=object), n),
                             mask=rng.random(n) < 0.6),
        "occup": pa.nulls(n, pa.string()),
        "entdepa": rng.choice(np.array(["G", "T", "Z"], dtype=object), n),
        "entdepd": pa.array(rng.choice(np.array(["O", "R", "K"], dtype=object), n),
                            mask=dep_null),
        "entdepu": pa.nulls(n, pa.string()),
        "matflag": pa.array(np.full(n, "M", dtype=object), mask=dep_null),
        "biryear": (2016 - ages).astype(np.float64),
        "dtaddto": np.full(n, "07202016", dtype=object),
        "gender": pa.array(rng.choice(np.array(["F", "M"], dtype=object), n),
                           mask=rng.random(n) < 0.1),
        "insnum": pa.array(insnum, mask=insnum_null),
        "airline": rng.choice(carriers, n),
        "admnum": rng.integers(50_000_000_000, 60_000_000_000, n).astype(np.float64),
        "fltno": rng.choice(np.array(["00782", "XBLNG", "00464", "LAND"], dtype=object), n),
        "visatype": rng.choice(np.array(["WT", "B2", "WB", "B1", "F1"], dtype=object), n),
    }
    fact["dtadfile"] = np.char.replace(fact["dtadfile"].astype(str), "-", "").astype(object)
    table = pa.table(fact)
    step = -(-n // ETL_FACT_PARTS)
    for part in range(ETL_FACT_PARTS):
        pq.write_table(table.slice(part * step, step),
                       f"{raw_dir}/sas_data/part-{part:05d}.parquet")
    expected["fact_immigration"] = {"rows": n, "nulls": {
        "admission_number": 0,
        "departure_date_key": int(dep_null.sum()),
        "ins_num": int(insnum_null.sum() + (insnum == "XM0167").sum()),
    }}
    dates = np.union1d(arr, dep[~dep_null])
    expected["dim_date"] = {"rows": int(dates.size), "nulls": {"date": 0}}

    total = 0
    for root, _, files in os.walk(raw_dir):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    data_lines = (len(cc_lines) - 1 + len(int_lines) + len(unmatched) - 1 + len(ports)
                  + len(airlines) + len(demo) - 1)
    return {"bytes": total, "rows": n + data_lines, "tables": expected}
