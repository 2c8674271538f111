"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
always writes the same files. Generated inputs are cached on disk under
``<cache_root>/<kind>/s<seed>-<size>/`` together with a
``manifest.json`` holding the counts the generator knows by
construction, so the workloads can check their outputs against them.
Generation happens before any timer starts and is never measured.

Shapes follow the repository's own fixtures:

- ``lake``   — one month of raw I-94 parquet in the FIXTURES.md §1 schema
  (numerics as doubles, split into part files like the reference's
  ``sas_data``), plus the demographics, country-lookup and temperature
  CSVs of FIXTURES.md §2-4, and a corpus sample (documents and
  embeddings as in ``tables``) for the traced run.
- ``tables`` — the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` with the column types and value
  distributions of the repository test data (TESTDATA.md). Documents are
  drawn per document from the source's distribution, so every corpus
  stage keeps the source's survival ratio at any size.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SAS_EPOCH = dt.date(1960, 1, 1)
APRIL_2016 = (dt.date(2016, 4, 1) - SAS_EPOCH).days  # SAS day number

# The repository test data's document vocabulary (31 words) and language mix.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBEDDING_DIM = 64
CORPUS_DOCS = 1000  # documents in the lake set's corpus sample

STATES = [
    ("Alabama", "AL"), ("Alaska", "AK"), ("Arizona", "AZ"), ("Arkansas", "AR"),
    ("California", "CA"), ("Colorado", "CO"), ("Connecticut", "CT"),
    ("Delaware", "DE"), ("Florida", "FL"), ("Georgia", "GA"), ("Hawaii", "HI"),
    ("Idaho", "ID"), ("Illinois", "IL"), ("Indiana", "IN"), ("Iowa", "IA"),
    ("Kansas", "KS"), ("Kentucky", "KY"), ("Louisiana", "LA"), ("Maine", "ME"),
    ("Maryland", "MD"), ("Massachusetts", "MA"), ("Michigan", "MI"),
    ("Minnesota", "MN"), ("Mississippi", "MS"), ("Missouri", "MO"),
    ("Montana", "MT"), ("Nebraska", "NE"), ("Nevada", "NV"),
    ("New Hampshire", "NH"), ("New Jersey", "NJ"), ("New Mexico", "NM"),
    ("New York", "NY"), ("North Carolina", "NC"), ("North Dakota", "ND"),
    ("Ohio", "OH"), ("Oklahoma", "OK"), ("Oregon", "OR"), ("Pennsylvania", "PA"),
    ("Rhode Island", "RI"), ("South Carolina", "SC"), ("South Dakota", "SD"),
    ("Tennessee", "TN"), ("Texas", "TX"), ("Utah", "UT"), ("Vermont", "VT"),
    ("Virginia", "VA"), ("Washington", "WA"), ("West Virginia", "WV"),
    ("Wisconsin", "WI"),
]
RACES = [
    "American Indian and Alaska Native", "Asian", "Black or African-American",
    "Hispanic or Latino", "White",
]
# lookup names that build_country recodes before joining temperatures
SPECIAL_COUNTRIES = [
    "BOSNIA-HERZEGOVINA", "INVALID: CANADA", "CHINA, PRC", "GUINEA-BISSAU",
    "INVALID: PUERTO RICO", "INVALID: UNITED STATES", "MEXICO",
]

# CSV read schemas: explicit, so no inference pass runs inside a timed build
DEMOGRAPHICS_SCHEMA = (
    "`City` STRING, `State` STRING, `Median Age` STRING, "
    "`Male Population` STRING, `Female Population` STRING, "
    "`Total Population` STRING, `Number of Veterans` STRING, "
    "`Foreign-born` STRING, `Average Household Size` STRING, "
    "`State Code` STRING, `Race` STRING, `Count` STRING"
)
LOOKUP_SCHEMA = "Code INT, I94CTRY STRING"
TEMPERATURE_SCHEMA = (
    "dt DATE, AverageTemperature DOUBLE, AverageTemperatureUncertainty DOUBLE, "
    "City STRING, Country STRING, Latitude STRING, Longitude STRING"
)


def cached_inputs(cache_root: str, kind: str, seed: int, size: int) -> tuple[str, dict]:
    """Directory and manifest of the inputs for (kind, seed, size),
    generating them first if absent. Generation writes to a temporary
    sibling and renames it into place, so an interrupted run never
    leaves a half-written input set behind."""
    path = os.path.join(cache_root, kind, f"s{seed}-{size}")
    manifest_path = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = GENERATORS[kind](tmp, seed, size)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(manifest_path) as fh:
        return path, json.load(fh)


def _dict_strings(rng, pool: list[str], n: int, null_frac: float = 0.0,
                  p=None) -> pa.Array:
    """Dictionary-encoded string column drawn from ``pool``, with
    ``null_frac`` of the rows null."""
    idx = rng.choice(len(pool), size=n, p=p).astype(np.int32)
    mask = rng.random(n) < null_frac if null_frac else None
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, mask=mask), pa.array(pool, type=pa.string())
    )


def _codes(rng, n: int, width: int, alphabet: str = "ABCDEFGHIJKLMNOPQRSTUVWXYZ") -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(list(alphabet), size=width)))
    return sorted(out)


def _floats(values: np.ndarray, null_mask: np.ndarray | None = None) -> pa.Array:
    return pa.array(values.astype(np.float64), mask=null_mask)


def generate_lake(out: str, seed: int, raw_rows: int) -> dict:
    """One month of raw I-94 arrivals plus the three dimension CSVs.

    2% of raw rows are exact copies of other rows (so the fact build's
    dropDuplicates has work); ``depdate``, ``i94addr`` and ``gender``
    are nullable; every demographics city has one row per Race value.
    """
    rng = np.random.default_rng([seed, 1])
    n_files = 14

    # --- country lookup (288 codes, a few names build_country recodes)
    codes = np.sort(rng.choice(np.arange(100, 1000), size=288, replace=False))
    names = list(SPECIAL_COUNTRIES) + [
        f"COUNTRY {i:03d}" for i in range(288 - len(SPECIAL_COUNTRIES))
    ]
    rng.shuffle(names)
    with open(os.path.join(out, "i94cit_i94res.csv"), "w") as fh:
        fh.write("Code,I94CTRY\n")
        for c, name in zip(codes, names):
            fh.write(f'{c},"{name}"\n')

    # --- temperatures: 3 cities per matched country, 20 years monthly
    recode = {
        "BOSNIA-HERZEGOVINA": "Bosnia And Herzegovina", "INVALID: CANADA": "Canada",
        "CHINA, PRC": "China", "GUINEA-BISSAU": "Guinea Bissau",
        "INVALID: PUERTO RICO": "Puerto Rico", "INVALID: UNITED STATES": "United States",
    }
    temp_countries = [recode.get(n, n.title()) for n in names[:200]]
    months = [f"{1994 + m // 12}-{m % 12 + 1:02d}-01" for m in range(240)]
    with open(os.path.join(out, "temperatures.csv"), "w") as fh:
        fh.write("dt,AverageTemperature,AverageTemperatureUncertainty,"
                 "City,Country,Latitude,Longitude\n")
        for ci, country in enumerate(temp_countries):
            base = rng.uniform(-5, 28)
            for k in range(3):
                lat = f"{rng.uniform(0, 70):.2f}{'NS'[k % 2]}"
                lon = f"{rng.uniform(0, 180):.2f}{'EW'[ci % 2]}"
                temps = base + 8 * np.sin(np.arange(240) * np.pi / 6) + rng.normal(0, 1, 240)
                unc = rng.uniform(0.1, 2.0, 240)
                missing = rng.random(240) < 0.05
                city = f"City {ci:03d}-{k}"
                fh.writelines(
                    f"{m},{'' if miss else f'{t:.3f}'},{u:.3f},{city},{country},{lat},{lon}\n"
                    for m, t, u, miss in zip(months, temps, unc, missing)
                )

    # --- demographics: 600 cities x 5 Race rows, ';'-separated
    n_cities = 600
    with open(os.path.join(out, "us_cities_demographics.csv"), "w") as fh:
        fh.write("City;State;Median Age;Male Population;Female Population;"
                 "Total Population;Number of Veterans;Foreign-born;"
                 "Average Household Size;State Code;Race;Count\n")
        for i in range(n_cities):
            state, code = STATES[i % len(STATES)]
            male, female = (int(x) for x in rng.integers(20_000, 900_000, 2))
            stats = [
                f"{rng.uniform(22, 48):.1f}", str(male), str(female),
                str(male + female), str(int(rng.integers(500, 40_000))),
                str(int(rng.integers(1_000, 300_000))), f"{rng.uniform(1.8, 3.9):.2f}",
            ]
            for j in (1, 5, 6):  # the nullable stats of FIXTURES.md §2
                if rng.random() < 0.02:
                    stats[j] = ""
            row = ";".join([f"City {i:04d}", state, *stats, code])
            fh.writelines(
                f"{row};{race};{int(rng.integers(100, 200_000))}\n" for race in RACES
            )

    # --- raw I-94 fact parquet
    n_dup = raw_rows // 50
    base = raw_rows - n_dup
    arr = rng.integers(0, 30, base) + APRIL_2016
    stay = rng.geometric(0.08, base) - 1
    dep_null = rng.random(base) < 0.05
    bir = rng.integers(0, 90, base)
    cols = {
        "cicid": rng.permutation(base) + 1,
        "i94yr": np.full(base, 2016),
        "i94mon": np.full(base, 4),
        "i94cit": rng.choice(codes, base),
        "i94res": rng.choice(codes, base),
        "arrdate": arr,
        "i94mode": rng.choice([1, 2, 3, 9], base, p=[0.9, 0.03, 0.06, 0.01]),
        "depdate": arr + stay,
        "i94bir": bir,
        "i94visa": rng.choice([1, 2, 3], base, p=[0.15, 0.8, 0.05]),
        "biryear": 2016 - bir,
        "admnum": rng.integers(10**9, 10**11, base),
        "day": arr - APRIL_2016,
    }
    # duplicate rows copy every column of a random base row
    pick = np.concatenate([np.arange(base), rng.integers(0, base, n_dup)])
    order = rng.permutation(raw_rows)
    rows = pick[order]
    depnull = dep_null[rows]
    srng = np.random.default_rng([seed, 2])  # string columns, drawn per base row

    def strings(pool, null_frac=0.0, p=None):
        col = _dict_strings(srng, pool, base, null_frac, p)
        return col.take(pa.array(rows))

    ports = _codes(srng, 300, 3)
    dtadfile = [f"201604{d + 1:02d}" for d in range(30)]
    table = pa.table({
        "cicid": _floats(cols["cicid"][rows]),
        "i94yr": _floats(cols["i94yr"][rows]),
        "i94mon": _floats(cols["i94mon"][rows]),
        "i94cit": _floats(cols["i94cit"][rows]),
        "i94res": _floats(cols["i94res"][rows]),
        "i94port": strings(ports),
        "arrdate": _floats(cols["arrdate"][rows]),
        "i94mode": _floats(cols["i94mode"][rows]),
        "i94addr": strings([c for _, c in STATES] + ["XX", "99"], 0.05),
        "depdate": _floats(cols["depdate"][rows], depnull),
        "i94bir": _floats(cols["i94bir"][rows]),
        "i94visa": _floats(cols["i94visa"][rows]),
        "count": _floats(np.ones(raw_rows)),
        "dtadfile": pa.DictionaryArray.from_arrays(
            pa.array(cols["day"][rows].astype(np.int32)), pa.array(dtadfile)
        ),
        "visapost": strings(_codes(srng, 80, 3), 0.6),
        "occup": strings(["STU", "PHY", "ENG", "TCH"], 0.99),
        "entdepa": strings(["G", "O", "A", "Z", "T"]),
        "entdepd": strings(["O", "D", "K", "R"], 0.05),
        "entdepu": strings(["U", "Y"], 0.99),
        "matflag": strings(["M"], 0.05),
        "biryear": _floats(cols["biryear"][rows]),
        "dtaddto": strings([f"{m:02d}{d:02d}2016" for m in range(5, 13) for d in (1, 15, 28)] + ["D/S"]),
        "gender": strings(["F", "M", "X"], 0.1, p=[0.49, 0.49, 0.02]),
        "insnum": strings([str(x) for x in range(3000, 3100)], 0.97),
        "airline": strings(_codes(srng, 120, 2), 0.03),
        "admnum": _floats(cols["admnum"][rows]),
        "fltno": strings([f"{x:05d}" for x in range(1, 2000)] + ["XBLNG", "LAND"], 0.01),
        "visatype": strings(["WT", "B2", "F1", "B1", "WB", "E2", "F2", "M1", "CP"],
                            p=[0.35, 0.35, 0.08, 0.1, 0.06, 0.02, 0.02, 0.01, 0.01]),
    })
    raw_dir = os.path.join(out, "sas_data")
    os.makedirs(raw_dir)
    step = -(-raw_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(raw_dir, f"part-{i:05d}.snappy.parquet"),
            compression="snappy",
        )

    dep_known = ~dep_null
    manifest = {
        "raw_rows": raw_rows,
        "fact_rows": int(base),
        "arrival_dates": int(np.unique(arr).size),
        "demographics_rows": n_cities,
        "country_rows": len(codes),
        "stay_sum": int(stay[dep_known].sum()),
        "input_bytes": _tree_bytes(out),
    }
    # documents and embeddings for the traced run's corpus calls; not
    # an input of the lake build
    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus)
    _write_documents(corpus, np.random.default_rng([seed, 4]), CORPUS_DOCS)
    return manifest


def generate_tables(out: str, seed: int, scale_milli: int) -> dict:
    """The repository test data's tables (TESTDATA.md) at scale factor
    ``scale_milli/1000`` (100 → the 17 MB sf0.1 set). Keys, dates and
    prices are independent uniform draws, as in those tables."""
    rng = np.random.default_rng([seed, 3])
    sf = scale_milli / 1000
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                       compression="snappy")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: dt.date, span: int, n: int) -> pa.Array:
        d = np.datetime64(start, "D") + rng.integers(0, span, n).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adjectives = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    nouns = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": days(dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": days(dt.date(1995, 1, 2), 2499, n_line),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    write("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(start + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 1500, n_events),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    _write_documents(out, rng, n_docs)
    return {"scale_milli": scale_milli, "lineitem_rows": n_line, "documents": n_docs}


def _write_documents(out: str, rng, n_docs: int) -> None:
    """Bag-of-words documents (10-100 tokens from VOCAB), 0.2% exact
    copies of earlier documents, and 64-d unit embeddings for the first
    40% of doc ids (the source's 2,000 of 5,000)."""
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(vocab[words[pos:pos + n]]))
        pos += n
    for i in rng.choice(np.arange(1, n_docs), size=max(1, n_docs // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    pq.write_table(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out, "documents.parquet"), compression="snappy")

    n_vec = int(n_docs * 0.4)
    vec = rng.normal(size=(n_vec, EMBEDDING_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_vec * EMBEDDING_DIM + 1, EMBEDDING_DIM, dtype=np.int32)),
        pa.array(vec.ravel()),
    )
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }), os.path.join(out, "embeddings.parquet"), compression="snappy")


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


GENERATORS = {"lake": generate_lake, "tables": generate_tables}


if __name__ == "__main__":
    import sys

    # inputs.py CACHE_ROOT KIND SEED SIZE: prints [path, manifest] as JSON
    root, kind, seed, size = sys.argv[1:]
    print(json.dumps(cached_inputs(root, kind, int(seed), int(size))))
