"""Seeded synthetic FAA releasable-aircraft snapshots, with their truth.

``make_snapshot`` builds the rows and ``write_zip`` writes them as a
``ReleasableAircraft.zip`` holding MASTER.txt, ACFTREF.txt and ENGINE.txt
in the FAA's comma-delimited, space-padded layout, covering the FIXTURES.md section A edge cases: padded and
garbage years, malformed dates, lower-case and full-name states, short
and alpha zips, duplicate n_numbers with several owners, unresolvable
make/model and engine codes, blank makers, multi-space names.

``churn`` derives the day-2 snapshot: a seeded share of aircraft is
added, removed, re-statused or re-owned. Every change is recorded, so
the expected ``snapshot_diff`` rows are known before the program runs.

The truth the checks need is computed here with plain-Python twins of
the standardisation rules (clean_text, state, zip, address), never by
the program under test.
"""

from __future__ import annotations

import functools
import io
import itertools
import random
import re
import zipfile
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

MASTER_COLUMNS = [
    "N-NUMBER", "SERIAL NUMBER", "MFR MDL CODE", "ENG MFR MDL", "YEAR MFR",
    "TYPE REGISTRANT", "NAME", "STREET", "STREET2", "CITY", "STATE",
    "ZIP CODE", "REGION", "COUNTY", "COUNTRY", "LAST ACTION DATE",
    "CERT ISSUE DATE", "CERTIFICATION", "TYPE AIRCRAFT", "TYPE ENGINE",
    "STATUS CODE", "MODE S CODE", "FRACT OWNER", "AIR WORTH DATE",
    "EXPIRATION DATE", "UNIQUE ID", "KIT MFR", "KIT MODEL", "MODE S CODE HEX",
]
ACFTREF_COLUMNS = [
    "CODE", "MFR", "MODEL", "TYPE-ACFT", "TYPE-ENG", "AC-CAT",
    "BUILD-CERT-IND", "NO-ENG", "NO-SEATS", "AC-WEIGHT", "SPEED",
]
ENGINE_COLUMNS = ["CODE", "MFR", "MODEL", "TYPE", "HORSEPOWER", "THRUST"]

# Reference scale (BASELINE.md): MASTER 307,793 / ACFTREF 93,342 / ENGINE 4,736.
REF_MASTER, REF_ACFTREF, REF_ENGINE = 307_793, 93_342, 4_736

MAKERS = [
    "CESSNA", "PIPER", "BEECH", "CIRRUS DESIGN CORP", "MOONEY", "BOEING",
    "AIRBUS", "BELL", "ROBINSON HELICOPTER", "GRUMMAN", "LUSCOMBE",
    "AERONCA", "TAYLORCRAFT", "MAULE", "DIAMOND AIRCRAFT", "EMBRAER",
    "BOMBARDIER", "GULFSTREAM", "DASSAULT", "LEARJET", "HAWKER", "EXTRA",
    "VANS", "STINSON", "ERCOUPE", "SCHWEIZER", "AVIAT", "CHAMPION",
    "SOCATA", "PILATUS", "TEXTRON", "SIKORSKY", "EUROCOPTER", "MCDONNELL",
    "DOUGLAS", "LOCKHEED", "DE HAVILLAND", "ROCKWELL", "ALON", "BELLANCA",
]
ENGINE_MAKERS = [
    "LYCOMING", "CONT MOTOR", "P&W CANADA", "ROTAX", "GE", "ROLLS-ROYCE",
    "HONEYWELL", "WILLIAMS", "FRANKLIN", "JABIRU",
]
SURNAMES = [
    "SMITH", "JOHNSON", "WILLIAMS", "BROWN", "JONES", "GARCIA", "MILLER",
    "DAVIS", "RODRIGUEZ", "MARTINEZ", "HERNANDEZ", "LOPEZ", "WILSON",
    "ANDERSON", "THOMAS", "TAYLOR", "MOORE", "JACKSON", "MARTIN", "LEE",
    "THOMPSON", "WHITE", "HARRIS", "CLARK", "LEWIS", "ROBINSON", "WALKER",
    "YOUNG", "ALLEN", "KING", "WRIGHT", "SCOTT", "GREEN", "BAKER", "ADAMS",
    "NELSON", "HILL", "CAMPBELL", "MITCHELL", "ROBERTS", "CARTER", "PHILLIPS",
]
GIVEN = [
    "JAMES", "MARY", "ROBERT", "PATRICIA", "JOHN", "JENNIFER", "MICHAEL",
    "LINDA", "DAVID", "ELIZABETH", "WILLIAM", "SUSAN", "RICHARD", "JESSICA",
]
# company brand words: each is a distinct FTS token and fleet term
BRANDS = [
    "NETJETS", "SKYWEST", "ACME", "AEROVISTA", "BLUESKY", "CLOUDLINE",
    "EAGLEWING", "FALCONRIDGE", "GULFCOAST", "HIGHPLAINS", "IRONBIRD",
    "JETSTREAM", "KESTREL", "LONGHORN", "MESAAIR", "NORTHSTAR", "OSPREY",
    "PINNACLE", "QUICKSILVER", "REDTAIL", "SUNCOAST", "TAILWIND",
    "UPDRAFT", "VECTORAIR", "WESTWIND", "XCEL", "YANKEE", "ZEPHYR",
    "ALPINE", "BAYSIDE", "CANYON", "DELTAVIEW", "EVERGREEN", "FRONTIER",
    "GRANITE", "HARBOR", "ISLAND", "JUNIPER", "KEYSTONE", "LAKESIDE",
]
COMPANY_WORDS = ["AVIATION", "LEASING", "AIR", "FLIGHT", "AERO", "CHARTER"]
COMPANY_SUFFIX = ["LLC", "INC", "CORP", "TRUSTEE", "LP", "CO"]
STREETS = ["MAIN", "OAK", "PINE", "MAPLE", "CEDAR", "ELM", "AIRPORT", "HANGAR", "RUNWAY"]
STREET_KINDS = ["ST", "AVE", "RD", "BLVD", "DR", "WAY"]
CITIES = [
    "SPRINGFIELD", "RIVERSIDE", "FRANKLIN", "GREENVILLE", "BRISTOL",
    "CLINTON", "FAIRVIEW", "SALEM", "MADISON", "GEORGETOWN", "ARLINGTON",
    "ASHLAND", "DOVER", "OXFORD", "JACKSON", "BURLINGTON", "MANCHESTER",
]
STATES = [
    "TX", "CA", "FL", "AK", "WA", "AZ", "GA", "NC", "CO", "OH", "MI", "IL",
    "NY", "PA", "OR", "MN", "WI", "MO", "TN", "VA",
]
FULL_STATES = ["California", "Texas", "Puerto Rico", "florida"]
STATUS_CODES = ["V"] * 30 + list("MTRNEWDASXZ") + ["1", "3", "12", "29", "Q7"]
CERTS = ["1N", "1T", "42", "9A", "1U", "4E", "3", "1NU"]
TYPE_ACFT = list("123456789") + ["H", "O"]

STATE_ABBREVIATIONS = {  # twin of hangarbay_spark.address (a USPS fact table)
    "ALABAMA": "AL", "ALASKA": "AK", "ARIZONA": "AZ", "ARKANSAS": "AR",
    "CALIFORNIA": "CA", "COLORADO": "CO", "CONNECTICUT": "CT", "DELAWARE": "DE",
    "FLORIDA": "FL", "GEORGIA": "GA", "HAWAII": "HI", "IDAHO": "ID",
    "ILLINOIS": "IL", "INDIANA": "IN", "IOWA": "IA", "KANSAS": "KS",
    "KENTUCKY": "KY", "LOUISIANA": "LA", "MAINE": "ME", "MARYLAND": "MD",
    "MASSACHUSETTS": "MA", "MICHIGAN": "MI", "MINNESOTA": "MN", "MISSISSIPPI": "MS",
    "MISSOURI": "MO", "MONTANA": "MT", "NEBRASKA": "NE", "NEVADA": "NV",
    "NEW HAMPSHIRE": "NH", "NEW JERSEY": "NJ", "NEW MEXICO": "NM", "NEW YORK": "NY",
    "NORTH CAROLINA": "NC", "NORTH DAKOTA": "ND", "OHIO": "OH", "OKLAHOMA": "OK",
    "OREGON": "OR", "PENNSYLVANIA": "PA", "RHODE ISLAND": "RI", "SOUTH CAROLINA": "SC",
    "SOUTH DAKOTA": "SD", "TENNESSEE": "TN", "TEXAS": "TX", "UTAH": "UT",
    "VERMONT": "VT", "VIRGINIA": "VA", "WASHINGTON": "WA", "WEST VIRGINIA": "WV",
    "WISCONSIN": "WI", "WYOMING": "WY",
    "DISTRICT OF COLUMBIA": "DC", "PUERTO RICO": "PR", "GUAM": "GU",
    "VIRGIN ISLANDS": "VI", "AMERICAN SAMOA": "AS",
    "NORTHERN MARIANA ISLANDS": "MP",
}


# -- plain-Python twins of the normalisation rules -------------------------


def raw(v: str) -> str:
    """CSV cell as normalize sees it: trimmed, '' / 'None' -> ''."""
    v = v.strip()
    return "" if v == "None" else v


def clean_text(v: str) -> str:
    return re.sub(r"\s+", " ", raw(v)).upper()


def std_state(v: str) -> str:
    s = raw(v).upper()
    if s == "":
        return ""
    if len(s) == 2 and s.isalpha():
        return s
    return STATE_ABBREVIATIONS.get(s, s[:2] if len(s) >= 2 else "")


def std_address(a1: str, a2: str) -> str:
    return " ".join(p for p in (clean_text(a1), clean_text(a2)) if p)


def std_zip(v: str) -> str:
    digits = re.sub(r"\D", "", raw(v))
    return digits[:5].rjust(5, "0") if digits else ""


def year_value(v: str) -> int | None:
    try:
        return int(float(raw(v)))
    except ValueError:
        return None


def tokens(text: str) -> set[str]:
    return {t for t in re.split(r"[^a-z0-9]+", text.lower()) if t}


# -- generation -------------------------------------------------------------


@dataclass
class Truth:
    """What the generated rows must come back as, keyed for the checks."""

    rows_per_n: Counter
    maker_by_n: dict[str, str | None]  # None: make/model code unresolvable
    owners_by_n: dict[str, list[str]]  # standardised owner names
    # per owner row: (n_number, name, state, FTS tokens, owner_type)
    owners: list[tuple[str, str, str, frozenset, str]]
    maker_years: list[tuple[str, int | None]]  # resolvable makers only
    fts_postings: int  # distinct (token, owner_id) pairs the FTS index holds

    def fleet_rows(self, term: str, state: str | None) -> int:
        """Rows ``Hangarbay.fleet(term, state)`` returns: each matching
        owner row joins every decoded row of its aircraft, and a decoded
        aircraft with c MASTER rows has c * c rows (aircraft x
        registrations on n_number)."""
        t = term.strip().lower()
        return sum(
            self.rows_per_n[n] ** 2
            for n, name, st, _tok, _k in self.owners
            if t in name.lower() and (state is None or st == state.upper())
        )

    def fts_rows(self, query: str) -> int:
        want = tokens(query)
        return sum(1 for o in self.owners if want <= o[3])

    def top_makers(self, min_year: int, k: int) -> list[tuple[str, int]]:
        c = Counter(m for m, y in self.maker_years if m and y is not None and y >= min_year)
        return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def trust_aircraft(self, prefix: str) -> list[tuple[str, int]]:
        trust = {n for n, _nm, _st, _tok, kind in self.owners if kind in ("2", "4", "5")}
        return sorted(
            (n, self.rows_per_n[n]) for n in trust if n.startswith(prefix)
        )

    def top_states(self, k: int) -> list[tuple[str, int]]:
        c = Counter(st for _n, _nm, st, _tok, _k in self.owners if st)
        return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@dataclass
class Snapshot:
    """One generated snapshot."""

    master: list[dict]
    acftref: list[dict]
    engine: list[dict]
    maker_by_code: dict[str, str] = field(default_factory=dict)

    @functools.cached_property
    def truth(self) -> Truth:
        rows_per_n: Counter = Counter()
        maker_by_n: dict[str, str | None] = {}
        owners_by_n: dict[str, list[str]] = {}
        owners, maker_years = [], []
        owner_keys: dict[tuple, frozenset] = {}  # owner_id's hashed fields
        for r in self.master:
            n = raw(r["N-NUMBER"])
            rows_per_n[n] += 1
            maker = self.maker_by_code.get(raw(r["MFR MDL CODE"]))
            maker_by_n[n] = maker
            if maker is not None:
                maker_years.append((maker, year_value(r["YEAR MFR"])))
            name, st = clean_text(r["NAME"]), std_state(r["STATE"])
            addr, city = std_address(r["STREET"], r["STREET2"]), clean_text(r["CITY"])
            owners_by_n.setdefault(n, []).append(name)
            tok = frozenset(tokens(name) | tokens(addr) | tokens(city) | tokens(st))
            owners.append((n, name, st, tok, raw(r["TYPE REGISTRANT"])))
            owner_keys[(n, name, addr, city, st, std_zip(r["ZIP CODE"]))] = tok
        postings = sum(len(t) for t in owner_keys.values())
        return Truth(rows_per_n, maker_by_n, owners_by_n, owners, maker_years, postings)

    def expected_counts(self) -> dict[str, int]:
        """Row counts ``normalize_snapshot`` must report."""
        n = len(self.master)
        return {
            "aircraft": n,
            "registrations": n,
            "owners": n,
            "aircraft_make_model": len(self.acftref),
            "engines": len(self.engine),
        }


def _pad(v: str, rng: random.Random) -> str:
    # FAA files pad fixed-width fields with trailing blanks
    return v + " " * rng.randint(0, 3) if v else v


def _date(rng: random.Random, lo: int = 1990, hi: int = 2024) -> str:
    r = rng.random()
    if r < 0.03:
        return ""
    if r < 0.05:
        return f"{rng.randint(lo, hi)}1332"  # malformed month/day -> null
    return f"{rng.randint(lo, hi)}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"


def _year(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.03:
        return ""
    if r < 0.05:
        return f"  {rng.randint(1946, 2024)}"  # padded
    if r < 0.06:
        return rng.choice(["UNKN", "19X8", "????"])  # garbage -> null
    return str(rng.randint(1946, 2024))


def _zip(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.02:
        return ""
    if r < 0.04:
        return str(rng.randint(1, 999))  # short -> left-padded
    if r < 0.05:
        return "ABCDE"  # alpha -> ''
    if r < 0.35:
        return f"{rng.randint(10000, 99999)}-{rng.randint(0, 9999):04d}"
    return f"{rng.randint(10000, 99999)}"


def _state(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.01:
        return ""
    if r < 0.03:
        return rng.choice(FULL_STATES)
    s = rng.choice(STATES)
    return s.lower() if r < 0.05 else s


def _owner(rng: random.Random) -> tuple[str, str]:
    """(TYPE REGISTRANT, NAME)."""
    if rng.random() < 0.4:
        name = f"{rng.choice(BRANDS)} {rng.choice(COMPANY_WORDS)} {rng.choice(COMPANY_SUFFIX)}"
        kind = rng.choice(["3", "3", "7", "8", "2", "4", "5"])
    else:
        name = f"{rng.choice(SURNAMES)} {rng.choice(GIVEN)} {rng.choice('ABCDEFGHJKLMNPRSTW')}"
        kind = rng.choice(["1", "1", "1", "9"])
    r = rng.random()
    if r < 0.03:
        name = name.replace(" ", "   ", 1)  # multi-space run
    elif r < 0.06:
        name = name.lower()  # mixed case input
    return kind, name


def _n_number(rng: random.Random, taken: set[str]) -> str:
    while True:
        r = rng.random()
        if r < 0.5:
            n = str(rng.randint(1, 99999))
        elif r < 0.8:
            n = f"{rng.randint(1, 9999)}{rng.choice('ABCDEFGHJKLMNPRSTUVWXYZ')}"
        else:
            n = f"{rng.randint(1, 999)}{rng.choice('ABCDEFGHJKLMNPRSTUVWXYZ')}{rng.choice('ABCDEFGHJKLMNPRSTUVWXYZ')}"
        if n not in taken:
            taken.add(n)
            return n


def _master_row(rng: random.Random, n: str, codes: list[str], cum_weights: list[float],
                engines: list[str]) -> dict:
    r = rng.random()
    code = "9999X01" if r < 0.02 else rng.choices(codes, cum_weights=cum_weights)[0]
    r = rng.random()
    eng = "" if r < 0.05 else ("99999" if r < 0.08 else rng.choice(engines))
    kind, name = _owner(rng)
    street2 = f"STE {rng.randint(100, 999)}" if rng.random() < 0.15 else ""
    street = "" if rng.random() < 0.02 else (
        f"{rng.randint(1, 9999)} {rng.choice(STREETS)} {rng.choice(STREET_KINDS)}"
    )
    city = rng.choice(CITIES)
    mode_s = "" if rng.random() < 0.03 else f"{rng.randint(0, 0o77777777):08o}"
    row = {
        "N-NUMBER": n,
        "SERIAL NUMBER": f"{rng.choice(['', 'SN ', 'A'])}{rng.randint(1, 999999)}",
        "MFR MDL CODE": code,
        "ENG MFR MDL": eng,
        "YEAR MFR": _year(rng),
        "TYPE REGISTRANT": kind,
        "NAME": name,
        "STREET": street,
        "STREET2": street2,
        "CITY": city.lower() if rng.random() < 0.05 else city,
        "STATE": _state(rng),
        "ZIP CODE": _zip(rng),
        "REGION": str(rng.randint(1, 8)),
        "COUNTY": f"{rng.randint(1, 200):03d}",
        "COUNTRY": "US",
        "LAST ACTION DATE": _date(rng, 2015, 2024),
        "CERT ISSUE DATE": _date(rng, 1990, 2024),
        "CERTIFICATION": rng.choice(CERTS),
        "TYPE AIRCRAFT": rng.choice(TYPE_ACFT),
        "TYPE ENGINE": str(rng.randint(0, 11)),
        "STATUS CODE": rng.choice(STATUS_CODES),
        "MODE S CODE": mode_s,
        "FRACT OWNER": "Y" if rng.random() < 0.01 else "",
        "AIR WORTH DATE": _date(rng),
        "EXPIRATION DATE": _date(rng, 2020, 2030),  # includes past dates
        "UNIQUE ID": str(rng.randint(1, 10**8)),
        "KIT MFR": "",
        "KIT MODEL": "",
        "MODE S CODE HEX": f"{int(mode_s, 8):X}" if mode_s else "",
    }
    return {k: _pad(v, rng) for k, v in row.items()}


def make_snapshot(seed: int, scale: float) -> Snapshot:
    """Day-1 snapshot at ``scale`` x the reference's row counts."""
    rng = random.Random(seed)
    n_master = max(200, round(REF_MASTER * scale))
    n_acftref = max(50, round(REF_ACFTREF * scale))
    n_engine = max(20, round(REF_ENGINE * scale))

    maker_weights = [1.0 / (i + 1) ** 1.1 for i in range(len(MAKERS))]
    maker_cum = list(itertools.accumulate(maker_weights))
    acftref, codes, code_w, maker_by_code = [], [], [], {}
    for i in range(n_acftref):
        m = rng.choices(range(len(MAKERS)), cum_weights=maker_cum)[0]
        maker = "" if rng.random() < 0.01 else MAKERS[m]
        code = f"{i:07d}"
        model = rng.choice([f"{rng.randint(100, 999)}{rng.choice(['', 'A', 'S', 'T'])}",
                            f"PA-{rng.randint(10, 46)}-{rng.randint(100, 350)}",
                            f"MD-{rng.randint(10, 90)}"])
        acftref.append({
            "CODE": code, "MFR": maker, "MODEL": model,
            "TYPE-ACFT": rng.choice(TYPE_ACFT), "TYPE-ENG": str(rng.randint(0, 11)),
            "AC-CAT": str(rng.randint(1, 3)), "BUILD-CERT-IND": str(rng.randint(0, 2)),
            "NO-ENG": str(rng.randint(1, 4)), "NO-SEATS": str(rng.randint(1, 400)),
            "AC-WEIGHT": f"CLASS {rng.randint(1, 4)}", "SPEED": str(rng.randint(0, 500)),
        })
        codes.append(code)
        code_w.append(maker_weights[m])
        maker_by_code[code] = maker
    engine = []
    for i in range(n_engine):
        thrust = rng.random() < 0.1
        engine.append({
            "CODE": f"{i:05d}", "MFR": rng.choice(ENGINE_MAKERS),
            "MODEL": f"O-{rng.randint(200, 540)}-{rng.choice('ABCDE')}{rng.randint(1, 9)}",
            "TYPE": str(rng.randint(0, 11)),
            "HORSEPOWER": "" if thrust else str(rng.randint(65, 2000)),
            "THRUST": str(rng.randint(1000, 90000)) if thrust else "",
        })
    eng_codes = [e["CODE"] for e in engine]
    code_cum = list(itertools.accumulate(code_w))

    taken: set[str] = set()
    master = []
    while len(master) < n_master:
        n = _n_number(rng, taken)
        row = _master_row(rng, n, codes, code_cum, eng_codes)
        master.append(row)
        if rng.random() < 0.004 and len(master) < n_master:
            # multi-owner aircraft: same aircraft fields, another owner
            kind, name = _owner(rng)
            master.append({**row, "TYPE REGISTRANT": kind, "NAME": name,
                           "UNIQUE ID": str(rng.randint(1, 10**8))})
    rng.shuffle(master)
    return Snapshot(master, acftref, engine, maker_by_code)


@dataclass
class Churn:
    """Day-2 snapshot plus the diff rows it must produce."""

    day2: Snapshot
    added: list[str]
    removed: list[str]
    restatused: list[str]
    reowned: list[str]

    def expected_diff(self) -> Counter:
        """(table, change) -> row count ``snapshot_diff`` must return."""
        a, r, s, o = (len(x) for x in (self.added, self.removed, self.restatused, self.reowned))
        out = Counter()
        for t in ("aircraft", "registrations"):
            out[(t, "added")] += a
            out[(t, "removed")] += r
            out[(t, "modified")] += s
        out[("owners", "added")] += a + o
        out[("owners", "removed")] += r + o
        return +out

    def changed_keys(self) -> int:
        return sum(self.expected_diff().values())


def churn(day1: Snapshot, seed: int, share: float) -> Churn:
    """Apply ``share`` churn to single-owner aircraft, split evenly over
    adds, removals, status changes and owner changes."""
    rng = random.Random(seed ^ 0x5EED)
    per_n = day1.truth.rows_per_n
    singles = sorted(n for n, c in per_n.items() if c == 1)
    k = max(1, round(len(singles) * share / 4))
    picked = rng.sample(singles, 3 * k)
    removed, restatused, reowned = set(picked[:k]), set(picked[k:2 * k]), set(picked[2 * k:])

    master = []
    for row in day1.master:
        n = raw(row["N-NUMBER"])
        if n in removed:
            continue
        if n in restatused:
            old = raw(row["STATUS CODE"])
            new = rng.choice([c for c in ("V", "M", "T", "R", "E") if c != old])
            row = {**row, "STATUS CODE": new, "LAST ACTION DATE": "20250102"}
        elif n in reowned:
            old = clean_text(row["NAME"])
            while True:
                kind, name = _owner(rng)
                if clean_text(name) != old:
                    break
            row = {**row, "NAME": name}
        master.append(row)
    taken = set(per_n)
    codes = [r["CODE"] for r in day1.acftref]
    code_cum = list(itertools.accumulate([1.0] * len(codes)))
    eng_codes = [e["CODE"] for e in day1.engine]
    added = []
    for _ in range(k):
        n = _n_number(rng, taken)
        added.append(n)
        master.append(_master_row(rng, n, codes, code_cum, eng_codes))
    day2 = Snapshot(master, day1.acftref, day1.engine, day1.maker_by_code)
    return Churn(day2, added, sorted(removed), sorted(restatused), sorted(reowned))


def _csv(columns: list[str], rows: list[dict]) -> str:
    buf = io.StringIO()
    buf.write(",".join(columns) + "\n")
    for r in rows:
        buf.write(",".join(r[c] for c in columns) + "\n")
    return buf.getvalue()


def write_zip(snap: Snapshot, path: Path) -> int:
    """Write the FAA download zip; returns the raw text bytes inside."""
    files = {
        "MASTER.txt": _csv(MASTER_COLUMNS, snap.master),
        "ACFTREF.txt": _csv(ACFTREF_COLUMNS, snap.acftref),
        "ENGINE.txt": _csv(ENGINE_COLUMNS, snap.engine),
    }
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        for name, text in files.items():
            z.writestr(name, text)
    return sum(len(t.encode()) for t in files.values())
