"""Deterministic synthetic I94-shaped fixtures (FIXTURES.md §B).

Generates the three reference-shaped inputs — SAS ``proc format`` labels
text, ``;``-separated demographics CSV, and an immigration fact parquet —
reproducing the dirty-data traits the reference pipeline must handle
(code ``'99'``, junk country labels, comma-less port labels, day-0/NULL
SAS dates, mixed-type join keys, NULL state codes). All content is
synthetic; nothing is copied from the reference inputs.

Seeded numpy → identical bytes every run, so pipeline row counts are
stable for the driver's rows-only checks.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd

from udacity_data_engineer_capstone_spark.memo import private_dir
from udacity_data_engineer_capstone_spark.sources.sas_labels import (
    render_label_block,
)

SEED = 20160401

STATES = [
    ("AA", "State Alpha"),
    ("BB", "State Bravo"),
    ("CC", "State Charlie"),
    ("DD", "State Delta"),
    ("EE", "State Echo"),
    ("FF", "State Foxtrot"),
    ("GG", "State Golf"),
    ("HH", "State Hotel"),
    ("99", "All Other Codes"),
]

MODES = [("1", "Air"), ("2", "Sea"), ("3", "Land"), ("9", "Not reported")]
VISAS = [("1", "Business"), ("2", "Pleasure"), ("3", "Student")]


def _countries() -> list[tuple[str, str]]:
    out = [(str(100 + i), f"Country {chr(65 + i % 26)}{i}") for i in range(40)]
    # junk labels the cleaner must normalize to 'NA' (cf. reference
    # dictionary entries like 'No Country Code', 'INVALID: ...')
    out += [
        ("996", "No Country Code (996)"),
        ("997", "INVALID: UNKNOWN"),
        ("998", "Collapsed (998)"),
    ]
    return out


def _ports(rng: np.random.Generator) -> list[tuple[str, str]]:
    cities = [
        "SPRINGFIELD", "RIVERTON", "LAKEVIEW", "HILLTOP", "BAYSIDE",
        "Oakdale", "Cedar Falls", "MAPLEWOOD", "Stonebridge", "FAIRVIEW",
        "WESTPORT", "EASTON", "NORTHGATE", "SOUTHVILLE", "MIDLAND",
    ]
    real_states = [s for s, _ in STATES if s != "99"]
    out = []
    for i, city in enumerate(cities):
        code = f"P{i:02d}"
        st = real_states[i % len(real_states)]
        # trailing blanks inside the quoted value, like the dictionary
        out.append((code, f"{city}, {st} "))
    # comma-less labels → split yields NULL state_code
    out.append(("X00", "No PORT Code (X00)"))
    out.append(("X01", "UNKNOWN POINT OF ENTRY"))
    return out


def write_labels_file(path: str) -> None:
    countries = _countries()
    ports = _ports(np.random.default_rng(SEED))
    parts = [
        "libname library 'Z:\\' ;\nproc format library=library ;\n",
        render_label_block("i94cntyl", countries),
        render_label_block("i94prtl", ports),
        render_label_block("i94model", MODES),
        render_label_block("i94addrl", STATES),
        # visa block deliberately has NO ';' of its own — the parser must
        # slice to the next ';' (the trailing 'run ;'), dropping the
        # comment line (reference trait, FIXTURES.md §B3)
        "value I94VISA\n 1 = Business\n 2 = Pleasure\n 3 = Student\n"
        "a free-text comment line\nrun ;\n",
    ]
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(parts))


def write_demographics_csv(path: str, n_cities: int = 90) -> pd.DataFrame:
    rng = np.random.default_rng(SEED + 1)
    ports = _ports(rng)
    port_cities = [(v.split(",")[0].strip(), v.split(",")[1].strip())
                   for _, v in ports if "," in v]
    races = ["Race One", "Race Two", "Race Three", "Race Four", "Race Five"]
    rows = []
    for i in range(n_cities):
        if i < len(port_cities):
            # mixed-case variant so only lower() joins match (etl.py:220)
            city, st = port_cities[i][0].title(), port_cities[i][1]
        else:
            city, st = f"Nowhere {i}", ["AA", "BB", "CC"][i % 3]
        male = int(rng.integers(10_000, 500_000))
        female = int(rng.integers(10_000, 500_000))
        state_code = None if i % 37 == 5 else st  # ~3% NULL → flt_notnull
        for race in races[: 2 + int(rng.integers(0, 4))]:
            rows.append(
                {
                    "city": city,
                    "state": f"State of {st}",
                    "median_age": round(float(rng.uniform(20, 60)), 1),
                    # numeric text on purpose: forces the implicit-cast SUM
                    "male_population": str(male),
                    "female_population": str(female),
                    "total_population": male + female,
                    "number_of_veterans": int(rng.integers(0, 50_000)),
                    "number_of_foreign_born": int(rng.integers(0, 100_000)),
                    "average_household_size": round(float(rng.uniform(1.5, 4.5)), 2),
                    "state_code": state_code,
                    "race": race,
                    "count": int(rng.integers(1_000, 200_000)),
                }
            )
    df = pd.DataFrame(rows)
    df.to_csv(path, sep=";", index=False)
    return df


def write_immigration_parquet(path: str, n_rows: int = 5000) -> pd.DataFrame:
    rng = np.random.default_rng(SEED + 2)
    countries = _countries()
    ports = _ports(rng)
    state_codes = [s for s, _ in STATES]

    def pick(options, junk=None, junk_rate=0.02):
        vals = rng.choice(len(options), size=n_rows)
        out = [options[int(v)] for v in vals]
        if junk is not None:
            mask = rng.random(n_rows) < junk_rate
            for i in np.flatnonzero(mask):
                out[i] = junk
        return out

    arrdate = rng.integers(20454, 20575, size=n_rows).astype(float)
    arrdate[rng.random(n_rows) < 0.01] = 0.0  # day-0 quirk rows
    arr_null = rng.random(n_rows) < 0.01
    depdate = arrdate + rng.integers(0, 90, size=n_rows)
    dep_null = rng.random(n_rows) < 0.2

    df = pd.DataFrame(
        {
            "i94yr": 2016.0,
            "i94mon": rng.integers(1, 13, size=n_rows).astype(float),
            "i94cit": [float(c) for c in pick([c for c, _ in countries], junk="999")],
            "i94res": [float(c) for c in pick([c for c, _ in countries], junk="999")],
            "i94port": pick([c for c, _ in ports], junk="ZZZ"),
            "arrdate": np.where(arr_null, np.nan, arrdate),
            "i94mode": rng.choice([1.0, 2.0, 3.0, 9.0, np.nan], size=n_rows,
                                  p=[0.7, 0.1, 0.1, 0.05, 0.05]),
            "i94addr": pick(state_codes, junk="XX"),
            "depdate": np.where(dep_null, np.nan, depdate),
            "i94bir": rng.integers(0, 96, size=n_rows).astype(float),
            "i94visa": rng.choice([1.0, 2.0, 3.0], size=n_rows),
            "occup": [None if r < 0.9 else "OCC" for r in rng.random(n_rows)],
            "gender": rng.choice(["M", "F", None], size=n_rows, p=[0.45, 0.45, 0.1]),
            "biryear": 2016.0 - rng.integers(0, 96, size=n_rows),
            "dtaddto": ["04152017"] * n_rows,
            "airline": rng.choice(["AB", "CD", "EF", None], size=n_rows),
            "admnum": rng.integers(10**9, 10**10, size=n_rows).astype(float),
            "fltno": rng.integers(1, 9999, size=n_rows).astype(str),
            "visatype": rng.choice(["B1", "B2", "F1", "WT"], size=n_rows),
        }
    )
    df.to_parquet(path, index=False)
    return df


def write_dim_parquets(base_dir: str) -> dict[str, str]:
    """Ground-truth (code, value) pairs per lookup dim, as parquet.

    These are the *same tuples* the SAS labels file is rendered from —
    NOT the output of the engine's label parser. A DuckDB oracle reading
    them therefore independently verifies the parser: if
    ``read_label_block`` mis-parses a block, the pipeline's star joins
    diverge from the oracle's."""
    dims = {
        "dim_countries": _countries(),
        "dim_ports": _ports(np.random.default_rng(SEED)),
        "dim_modes": MODES,
        "dim_states": STATES,
        "dim_visas": VISAS,
    }
    paths = {}
    for name, pairs in dims.items():
        p = os.path.join(base_dir, f"{name}.parquet")
        pd.DataFrame(pairs, columns=["code", "value"]).to_parquet(p, index=False)
        paths[name] = p
    return paths


def generate(base_dir: str) -> dict[str, str]:
    """Write all fixtures (pipeline inputs + oracle dim parquets) under
    ``base_dir``; returns paths."""
    os.makedirs(base_dir, exist_ok=True)
    paths = {
        "labels": os.path.join(base_dir, "labels.SAS"),
        "demographics": os.path.join(base_dir, "demographics.csv"),
        "immigration": os.path.join(base_dir, "immigration.parquet"),
        "output": os.path.join(base_dir, "out"),
    }
    write_labels_file(paths["labels"])
    write_demographics_csv(paths["demographics"])
    write_immigration_parquet(paths["immigration"])
    paths.update(write_dim_parquets(base_dir))
    return paths


# Per-user stable path: process-independent (oracle SQL strings embed
# absolute paths at registration time) but not shared across users, so
# another local account can neither poison nor race the fixture files.
STABLE_DIR = os.path.join(
    tempfile.gettempdir(), f"engine_i94_fixtures_v1_u{os.getuid()}"
)

_FIXTURE_NAMES = (
    "labels",
    "demographics",
    "immigration",
    "output",
    "dim_states",
    "dim_visas",
    "dim_modes",
    "dim_ports",
    "dim_countries",
)


def fixture_paths() -> dict[str, str]:
    """The stable fixture paths, WITHOUT any I/O — import-time callers
    (oracle SQL f-strings) use this; actual generation is deferred to
    :func:`generate_stable` at first query execution."""
    paths = {
        "labels": os.path.join(STABLE_DIR, "labels.SAS"),
        "demographics": os.path.join(STABLE_DIR, "demographics.csv"),
        "immigration": os.path.join(STABLE_DIR, "immigration.parquet"),
        "output": os.path.join(STABLE_DIR, "out"),
    }
    for name in _FIXTURE_NAMES:
        if name.startswith("dim_"):
            paths[name] = os.path.join(STABLE_DIR, f"{name}.parquet")
    return paths


def generate_stable() -> dict[str, str]:
    """Idempotent, race-safe fixture generation at :data:`STABLE_DIR`.

    STABLE_DIR only ever comes into existence via an atomic rename of a
    fully-written private (0o700) staging dir, so its presence implies
    complete content — concurrent bench/pytest processes either skip
    (already present) or lose the rename race harmlessly. Seeded numpy
    means every generation writes identical bytes. The path is
    predictable in the shared temp directory, so an existing STABLE_DIR
    that is not this user's 0700 directory raises instead of serving
    fixtures another user could have planted."""
    if not os.path.lexists(STABLE_DIR):
        parent = os.path.dirname(STABLE_DIR)
        staging = tempfile.mkdtemp(prefix=".engine_i94_staging_", dir=parent)
        os.chmod(staging, 0o700)
        generate(staging)
        try:
            os.rename(staging, STABLE_DIR)
        except OSError:
            # another process completed the rename first — ours is a
            # byte-identical duplicate, discard it
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
    if not private_dir(STABLE_DIR):
        raise PermissionError(
            f"{STABLE_DIR} is not a 0700 directory owned by this user"
        )
    return fixture_paths()
