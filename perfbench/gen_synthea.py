"""Seeded dirty Synthea landing: two consecutive load dates and a probe date.

Builds one CSV per table under ``<landing>/<date>/<table>/``, with the
columns of the bundled schema registry and every dirt feature of
``tests/synthea_fixtures.py`` planted in fixed proportions:

- ragged rows (1% short, padded; 1% long, truncated)  -> patients
- unnamed trailing header column and mixed-case names  -> patients
- quoted comma inside a field                          -> patients.address
- whitespace padding (10%)                             -> patients.first
- phone dashes                                         -> payers.phone
- ``' or '`` multi-value cells (5%)                    -> encounters.description
- exact duplicate rows (2%)                            -> conditions
- 1 to 3 payer transitions per patient                 -> payer_transitions
- an all-null column                                   -> patients.deathdate
- empty fields (null after cast, or the 'None' sentinel) -> throughout

Day 2 is a full snapshot in which ``changed_share`` of the patients
changed marital status, and every second one of those also moved
(new address and city). Everything else repeats day 1.

Timestamp cells are never empty on those two dates, as in the test
fixtures. A third date, ``PROBE_DATE``, lands only ``conditions`` with
half of its ``stop`` timestamps empty, the way real Synthea exports
leave ongoing conditions.

``write_landing`` returns the counts a correct load must produce:
staged rows per table and date (after full-row dedup), and per mart
dimension the total, active, expired and newly inserted SCD2 rows
after each load. They come from a plain-Python replay of the
reference's rules (dropna on the projected columns, distinct, SCD2
hash compare), not from Spark.

Usage: python3 perfbench/gen_synthea.py LANDING_DIR [--rows 2000] [--seed 1]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The tables behind fact_patient and its dimensions dim_patient,
#: dim_location and dim_payer (operators/marts.py).
MART_TABLES = (
    "patients",
    "encounters",
    "conditions",
    "payers",
    "payer_transitions",
)
DATES = ("2024-03-01", "2024-03-02")
#: a third date landing only ``conditions`` with empty ``stop`` timestamps
PROBE_DATE = "2024-03-03"

MARITAL = ["M", "S", "D", "W"]
RACE = ["white", "black", "asian", "hispanic", "native", "other"]
CITIES = [f"Town{i}" for i in range(60)]


def _csv_cell(v: str) -> str:
    if "," in v or '"' in v:
        return '"' + v.replace('"', '""') + '"'
    return v


def _date(r: random.Random, lo: int = 1930, hi: int = 2015) -> str:
    return f"{r.randint(lo, hi)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"


def _ts(r: random.Random) -> str:
    return (
        f"{r.randint(2010, 2023)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"
        f"T{r.randint(0, 23):02d}:{r.randint(0, 59):02d}:{r.randint(0, 59):02d}Z"
    )


@functools.cache
def _registry_columns(table: str) -> list[str]:
    from synthea_etl_spark.sources.schema_registry import bundled_registry_dir

    with open(os.path.join(bundled_registry_dir(), f"{table}.json")) as fh:
        return [f["name"] for f in json.load(fh)]


class _Landing:
    """Logical (clean) rows per table; dirt is applied when writing."""

    def __init__(self, rows: int, seed: int):
        r = random.Random(seed)
        self.n = rows
        self.patients = [self._patient(r, i) for i in range(rows)]
        self.short = set(r.sample(range(rows), rows // 100))
        self.long = set(r.sample(sorted(set(range(rows)) - self.short), rows // 100))
        self.padded = set(r.sample(range(rows), rows // 10))
        n_pay = max(10, rows // 200)
        self.payers = [self._payer(r, i) for i in range(n_pay)]
        pids = [p["id"] for p in self.patients]
        payer_ids = [p["id"] for p in self.payers]
        self.encounters = []
        self.multivalue = set(r.sample(range(rows), rows // 20))
        for i in range(rows):
            reason = "" if r.random() < 0.3 else str(r.randint(10**8, 10**9))
            desc = (
                "Well child visit or General examination"
                if i in self.multivalue
                else f"Encounter type {r.randint(0, 40)}"
            )
            self.encounters.append(
                {
                    "id": f"e{i:07d}",
                    "start": _ts(r),
                    "stop": _ts(r),
                    "patient": r.choice(pids),
                    "organization": f"org{r.randint(0, 99)}",
                    "provider": f"prov{r.randint(0, 999)}",
                    "payer": r.choice(payer_ids),
                    "encounterclass": r.choice(["ambulatory", "wellness", "outpatient", "emergency"]),
                    "code": str(r.randint(10**8, 10**9)),
                    "description": desc,
                    "base_encounter_class": f"{r.uniform(50, 200):.2f}",
                    "total_claim_cost": f"{r.uniform(50, 5000):.2f}",
                    "payer_coverage": f"{r.uniform(0, 3000):.2f}",
                    "reasoncode": reason,
                    "reasondescription": "" if not reason else f"Reason {r.randint(0, 60)}",
                }
            )
        self.conditions = []
        for i in range(rows):
            enc = r.choice(self.encounters)
            self.conditions.append(
                {
                    "start": _ts(r),
                    "stop": _ts(r),
                    "patient": enc["patient"],
                    "encounter": enc["id"],
                    "system": "SNOMED-CT",
                    "code": str(10**7 + i),
                    "description": f"Condition {r.randint(0, 300)}",
                }
            )
        self.dup_conditions = r.sample(range(rows), rows // 50)
        self.payer_transitions = []
        for pid in pids:
            if len(self.payer_transitions) >= rows:
                break
            year = r.randint(1990, 2005)
            for k in range(r.randint(1, 3)):
                year += r.randint(1, 5)
                self.payer_transitions.append(
                    {
                        "patient": pid,
                        "memberid": f"m{len(self.payer_transitions):07d}",
                        "start_date": f"{year}-{r.randint(1, 12):02d}-01T00:00:00Z",
                        "end_date": f"{year + 1}-01-01T00:00:00Z",
                        "payer": r.choice(payer_ids),
                        "secondary_payer": r.choice(payer_ids) if r.random() < 0.2 else "",
                        "plan_ownership": r.choice(["Self", "Spouse", "Guardian"]),
                        "owner_name": f"Owner {r.randint(0, 999)}",
                    }
                )
        del self.payer_transitions[rows:]
        self.changed: list[int] = []
        self._r = r

    @staticmethod
    def _patient(r: random.Random, i: int) -> dict[str, str]:
        return {
            "id": f"p{i:07d}",
            "birthdate": "" if r.random() < 0.01 else _date(r),
            "deathdate": "",
            "ssn": f"999-{r.randint(10, 99)}-{r.randint(1000, 9999)}",
            "driver": f"S{r.randint(10**7, 10**8)}",
            "passport": "" if r.random() < 0.2 else f"X{r.randint(10**7, 10**8)}X",
            "prefix": r.choice(["Mr.", "Mrs.", "Ms.", ""]),
            "first": f"First{i}",
            "middle": "" if r.random() < 0.5 else f"Mid{r.randint(0, 999)}",
            "last": f"Last{r.randint(0, 4999)}",
            "suffix": "" if r.random() < 0.95 else "PhD",
            "maiden": "" if r.random() < 0.8 else f"Maiden{r.randint(0, 999)}",
            "marital": r.choice(MARITAL),
            "race": r.choice(RACE),
            "ethnicity": r.choice(["hispanic", "nonhispanic"]),
            "gender": r.choice(["M", "F"]),
            "birthplace": f"{r.choice(CITIES)}  Massachusetts  US",
            "address": f"{i + 1} Elm St, Apt {r.randint(1, 40)}",
            "city": r.choice(CITIES),
            "state": "Massachusetts",
            "country": "US",
            "fips": str(r.randint(25001, 25027)),
            "zip": str(r.randint(1001, 2791)),
            "lat": f"{r.uniform(41.2, 42.8):.6f}",
            "lon": f"{r.uniform(-73.4, -70.0):.6f}",
            "healthcare_expenses": f"{r.uniform(0, 2e6):.2f}",
            "healthcare_coverage": f"{r.uniform(0, 1e5):.2f}",
            "income": str(r.randint(10000, 300000)),
        }

    @staticmethod
    def _payer(r: random.Random, i: int) -> dict[str, str]:
        row = {
            "id": f"pay{i:04d}",
            "name": f"Payer {i}",
            "ownership": r.choice(["GOVERNMENT", "PRIVATE", "NO_INSURANCE"]),
            "address": f"{r.randint(1, 999)} Main St",
            "city": r.choice(CITIES),
            "state_headquater": "MA",
            "zip": str(r.randint(1001, 2791)),
            "phone": f"{r.randint(200, 999)}-{r.randint(200, 999)}-{r.randint(1000, 9999)}",
        }
        for col in _registry_columns("payers")[8:]:
            row[col] = f"{r.uniform(0, 1e6):.2f}" if col in ("amount_uncovered", "qols_avg") else str(r.randint(0, 10**6))
        return row

    def change_patients(self, share: float) -> None:
        """Day-2 delta: ``share`` of patients change marital status;
        every second changed patient also moves."""
        picked = sorted(self._r.sample(range(self.n), int(self.n * share)))
        for k, i in enumerate(picked):
            p = self.patients[i]
            p["marital"] = MARITAL[(MARITAL.index(p["marital"]) + 1) % len(MARITAL)]
            if k % 2 == 0:
                p["address"] = f"{i + 1} Oak Ave, Apt {self._r.randint(41, 80)}"
                p["city"] = self._r.choice(CITIES)
        self.changed = picked

    # -- writing ----------------------------------------------------------

    def write(self, base: str, tables: tuple[str, ...] = MART_TABLES) -> dict[str, int]:
        """Write each table's dirty CSV under ``base/<table>/``;
        returns landed data rows per table."""
        landed = {}
        for table in tables:
            cols = _registry_columns(table)
            rows = [[rec[c] for c in cols] for rec in getattr(self, table)]
            header = ",".join(cols)
            if table == "patients":
                ix = {c: k for k, c in enumerate(cols)}
                ugly = [c.upper() if k % 2 == 0 else c.title() for k, c in enumerate(cols)]
                header = ",".join(ugly) + ","  # trailing unnamed column
                for i, row in enumerate(rows):
                    if i in self.padded:
                        row[ix["first"]] = f"  {row[ix['first']]} "
                    if i in self.short:
                        rows[i] = row[: ix["zip"]]
                    elif i in self.long:
                        row.extend(["", "junk"])
            elif table == "conditions":
                rows.extend([list(rows[i]) for i in self.dup_conditions])
            tdir = os.path.join(base, table)
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{table}.csv"), "w") as fh:
                fh.write(header + "\n")
                for row in rows:
                    fh.write(",".join(_csv_cell(v) for v in row) + "\n")
            landed[table] = len(rows)
        return landed

    def write_probe(self, base: str) -> int:
        """Conditions only, with half of the ``stop`` timestamps empty;
        returns how many are empty."""
        saved = self.conditions
        blank = set(self._r.sample(range(self.n), self.n // 2))
        self.conditions = [dict(c, stop="") if i in blank else c for i, c in enumerate(saved)]
        try:
            self.write(base, ("conditions",))
        finally:
            self.conditions = saved
        return len(blank)

    # -- expected outputs -------------------------------------------------

    def dim_snapshots(self) -> dict[str, dict[tuple, tuple]]:
        """Business key -> attribute tuple per mart dimension, after the
        cleaning rules (typed empty -> null -> dropped by dropna)."""
        pats = [
            dict(p, zip="" if i in self.short else p["zip"])
            for i, p in enumerate(self.patients)
        ]
        return {
            "dim_patient": {
                (p["id"],): (p["birthdate"], f"{p['first']} {p['last']}", p["marital"],
                             p["race"], p["ethnicity"], p["gender"])
                for p in pats
                if p["birthdate"]
            },
            "dim_location": {
                (p["address"], p["city"], p["state"], p["zip"]): ()
                for p in pats
                if p["zip"]
            },
            "dim_payer": {(p["id"],): (p["name"], p["ownership"]) for p in self.payers},
        }


def _scd2_replay(days: list[dict[str, dict[tuple, tuple]]]) -> list[dict[str, dict]]:
    """Per load: total/active/expired/inserted rows of each dimension."""
    out, active, total = [], {}, {}
    for snap in days:
        counts = {}
        for dim, rows in snap.items():
            cur = active.setdefault(dim, {})
            inserted = expired = 0
            for key, attrs in rows.items():
                if key not in cur:
                    inserted += 1
                elif cur[key] != attrs:
                    inserted += 1
                    expired += 1
                cur[key] = attrs
            total[dim] = total.get(dim, 0) + inserted
            counts[dim] = {
                "rows": total[dim],
                "active": len(cur),
                "inactive": total[dim] - len(cur),
                "inserted": inserted,
                "expired": expired,
            }
        out.append(counts)
    return out


def write_landing(landing_dir: str, rows: int, seed: int, changed_share: float = 0.1) -> dict:
    """Write both load dates; return the expected counts (see module doc)."""
    land = _Landing(rows, seed)
    landed, staged, snaps = {}, {}, []
    for day, date in enumerate(DATES):
        if day == 1:
            land.change_patients(changed_share)
        landed[date] = land.write(os.path.join(landing_dir, date))
        staged[date] = dict(landed[date], conditions=rows)
        snaps.append(land.dim_snapshots())
    dims = _scd2_replay(snaps)
    blank = land.write_probe(os.path.join(landing_dir, PROBE_DATE))
    return {
        "rows_per_table": rows,
        "seed": seed,
        "dates": list(DATES),
        "tables": list(MART_TABLES),
        "changed_patients": len(land.changed),
        "landed_rows": landed,
        "staged_rows": staged,
        "dims": dict(zip(DATES, dims)),
        "fact_rows": {d: rows for d in DATES},
        # fact rows with a location: patients whose zip survived (addresses are unique)
        "fact_located": {d: rows - len(land.short) for d in DATES},
        "probe": {"date": PROBE_DATE, "table": "conditions", "staged_rows": rows, "empty_stop": blank},
        "dirt": {
            "short_rows": len(land.short),
            "long_rows": len(land.long),
            "padded_first": len(land.padded),
            "multivalue_encounters": len(land.multivalue),
            "duplicate_conditions": len(land.dup_conditions),
        },
    }


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("landing_dir")
    ap.add_argument("--rows", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    print(json.dumps(write_landing(args.landing_dir, args.rows, args.seed), indent=1))
