"""Seeded input generators for the benchmark.

Two kinds of input are generated here, never read from outside the
checkout:

- ``tables``: the ten catalog tables (TPC-H-shaped star schema plus
  ``events``, ``documents`` and ``embeddings``) at a scale factor, with
  the same columns, types and value domains as the engine's test data.
  Money, rates and event values carry at most two decimals, which keeps
  every double lane exact under the oracle's scaled-integer hash.
- ``i94``: the reference pipeline's three inputs (SAS ``proc format``
  dictionary, ``;``-separated demographics CSV, immigration fact
  parquet) plus the ground-truth lookup dims the DuckDB twins read.

Both are pure functions of their arguments: the same seed writes the same
rows. Each output directory is published by an atomic rename, so a
directory that exists is complete.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated rows change, so cached inputs are rebuilt.
VERSION = 1
TABLE_SEED = 42

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform values with two decimals, built from integer cents."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> None:
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_li = max(600, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {n}" for a in _ADJ for n in _NOUN])
    types = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
    })
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + odays * _DAY_US),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    sdays = rng.integers(1, 2499, n_li)  # 1995-01-02 .. 2001-11-04
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + sdays * _DAY_US),
    })
    # events: ids in time order over 30 days
    gaps = rng.exponential(1.0, n_evt)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * _DAY_US - 3_600_000_000)
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + 11_000_000 + offs.astype(np.int64)),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_evt)
        ],
        "value": np.round(rng.exponential(50.0, n_evt) * 100) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    # documents: random word sequences, a few exact duplicates and
    # near-duplicates (an earlier document plus one token)
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(10, 101, n_docs)
    ]
    for i in rng.choice(n_docs, size=max(2, n_docs // 20), replace=False):
        j = int(rng.integers(0, n_docs))
        if i != j:
            texts[i] = texts[j] + " dup"
    for i in rng.choice(n_docs, size=max(2, n_docs // 600), replace=False):
        j = int(rng.integers(0, n_docs))
        texts[i] = texts[j]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "es", "fr", "de"])[
            rng.integers(0, 7, n_docs)
        ],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.reshape(-1)), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })


# --- i94 reference-pipeline inputs -----------------------------------------

_STATES = ["AA", "BB", "CC", "DD", "EE", "FF", "GG", "HH"]
_CITIES = [
    "SPRINGFIELD", "RIVERTON", "LAKEVIEW", "HILLTOP", "BAYSIDE", "Oakdale",
    "Cedar Falls", "MAPLEWOOD", "Stonebridge", "FAIRVIEW", "WESTPORT",
    "EASTON", "NORTHGATE", "SOUTHVILLE", "MIDLAND",
]


def _i94_dims() -> dict[str, list[tuple[str, str]]]:
    countries = [(str(100 + i), f"Country {chr(65 + i % 26)}{i}") for i in range(40)]
    countries += [
        ("996", "No Country Code (996)"),
        ("997", "INVALID: UNKNOWN"),
        ("998", "Collapsed (998)"),
    ]
    ports = [
        (f"P{i:02d}", f"{c}, {_STATES[i % len(_STATES)]} ")
        for i, c in enumerate(_CITIES)
    ]
    ports += [("X00", "No PORT Code (X00)"), ("X01", "UNKNOWN POINT OF ENTRY")]
    return {
        "countries": countries,
        "ports": ports,
        "modes": [("1", "Air"), ("2", "Sea"), ("3", "Land"), ("9", "Not reported")],
        "states": [(s, f"State {s}") for s in _STATES] + [("99", "All Other Codes")],
        "visas": [("1", "Business"), ("2", "Pleasure"), ("3", "Student")],
    }


def _label_block(label: str, pairs: list[tuple[str, str]]) -> str:
    body = "\n".join(f"   {c} = '{v}'" for c, v in pairs)
    return f"value {label}\n{body}\n;\n"


def write_i94(out_dir: str, n_rows: int, seed: int) -> dict[str, str]:
    """Write the pipeline inputs and the oracle's ground-truth dims;
    returns their paths keyed like the engine's fixture paths."""
    rng = np.random.default_rng(seed)
    dims = _i94_dims()
    p = {
        "labels": os.path.join(out_dir, "labels.SAS"),
        "demographics": os.path.join(out_dir, "demographics.csv"),
        "immigration": os.path.join(out_dir, "immigration.parquet"),
    }
    with open(p["labels"], "w", encoding="utf-8") as fh:
        fh.write("libname library 'Z:\\' ;\nproc format library=library ;\n\n")
        fh.write(_label_block("i94cntyl", dims["countries"]))
        fh.write(_label_block("i94prtl", dims["ports"]))
        fh.write(_label_block("i94model", dims["modes"]))
        fh.write(_label_block("i94addrl", dims["states"]))
        # no ';' of its own: the parser must stop at the trailing 'run ;'
        fh.write("value I94VISA\n 1 = Business\n 2 = Pleasure\n 3 = Student\n"
                 "a free-text comment line\nrun ;\n")
    for name, pairs in dims.items():
        path = os.path.join(out_dir, f"dim_{name}.parquet")
        pq.write_table(
            pa.table({"code": [c for c, _ in pairs], "value": [v for _, v in pairs]}),
            path,
        )
        p[f"dim_{name}"] = path

    header = ("city;state;median_age;male_population;female_population;"
              "total_population;number_of_veterans;number_of_foreign_born;"
              "average_household_size;state_code;race;count")
    lines = [header]
    for i in range(90):
        if i < len(_CITIES):
            city, st = _CITIES[i].title(), _STATES[i % len(_STATES)]
        else:
            city, st = f"Nowhere {i}", _STATES[i % 3]
        male, female = (int(x) for x in rng.integers(10_000, 500_000, 2))
        code = "" if i % 37 == 5 else st
        for race in ["Race One", "Race Two", "Race Three", "Race Four"][
            : 1 + int(rng.integers(0, 4))
        ]:
            lines.append(
                f"{city};State of {st};{rng.integers(200, 600) / 10};{male};"
                f"{female};{male + female};{rng.integers(0, 50_000)};"
                f"{rng.integers(0, 100_000)};{rng.integers(150, 450) / 100};"
                f"{code};{race};{rng.integers(1_000, 200_000)}"
            )
    with open(p["demographics"], "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")

    n = n_rows

    def pick(codes: list[str], junk: str) -> np.ndarray:
        out = np.array(codes, dtype=object)[rng.integers(0, len(codes), n)]
        out[rng.random(n) < 0.02] = junk
        return out

    country_codes = [c for c, _ in dims["countries"]]
    arrdate = rng.integers(20454, 20575, n).astype(np.float64)
    arrdate[rng.random(n) < 0.01] = 0.0  # day-0 rows decode to NULL
    arrdate[rng.random(n) < 0.01] = np.nan
    depdate = arrdate + rng.integers(0, 90, n)
    depdate[rng.random(n) < 0.2] = np.nan
    # one monthly file, like the reference's per-month inputs
    tbl = pa.table({
        "i94yr": np.full(n, 2016.0),
        "i94mon": np.full(n, float(rng.integers(1, 13))),
        "i94cit": pick(country_codes, "999").astype(np.float64),
        "i94res": pick(country_codes, "999").astype(np.float64),
        "i94port": pa.array(pick([c for c, _ in dims["ports"]], "ZZZ"), pa.string()),
        # NaN marks a missing value, stored as parquet NULL as in the
        # reference inputs
        "arrdate": pa.array(arrdate, from_pandas=True),
        "i94mode": pa.array(np.array([1.0, 2.0, 3.0, 9.0, np.nan])[
            rng.choice(5, n, p=[0.7, 0.1, 0.1, 0.05, 0.05])
        ], from_pandas=True),
        "i94addr": pa.array(pick([s for s, _ in dims["states"]], "XX"), pa.string()),
        "depdate": pa.array(depdate, from_pandas=True),
        "i94bir": rng.integers(0, 96, n).astype(np.float64),
        "i94visa": rng.integers(1, 4, n).astype(np.float64),
        "occup": pa.array(np.where(rng.random(n) < 0.9, None, "OCC"), pa.string()),
        "gender": pa.array(
            np.array(["M", "F", None], dtype=object)[rng.choice(3, n, p=[0.45, 0.45, 0.1])],
            pa.string(),
        ),
        "biryear": 2016.0 - rng.integers(0, 96, n),
        "dtaddto": pa.array(np.full(n, "04152017", dtype=object), pa.string()),
        "airline": pa.array(
            np.array(["AB", "CD", "EF", None], dtype=object)[rng.integers(0, 4, n)],
            pa.string(),
        ),
        "admnum": rng.integers(10**9, 10**10, n).astype(np.float64),
        "fltno": pa.array(rng.integers(1, 9999, n).astype(str), pa.string()),
        "visatype": pa.array(
            np.array(["B1", "B2", "F1", "WT"], dtype=object)[rng.integers(0, 4, n)],
            pa.string(),
        ),
    })
    pq.write_table(tbl, p["immigration"], row_group_size=max(8192, n // 16))
    return p


def ensure(root: str, name: str, build) -> str:
    """Return ``root/name``, building it with ``build(dir)`` first if
    absent. The build writes to a private staging directory that is
    renamed into place, so concurrent or interrupted builds never leave
    a partial directory behind."""
    final = os.path.join(root, name)
    if os.path.isdir(final):
        return final
    os.makedirs(root, exist_ok=True)
    stage = tempfile.mkdtemp(prefix=f".{name}-", dir=root)
    try:
        build(stage)
        os.rename(stage, final)
    except OSError:
        if not os.path.isdir(final):
            raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return final
