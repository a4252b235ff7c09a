"""Seeded generator for the Olympic pipeline's bronze layer.

Writes biodata.parquet, results.parquet, editions.parquet and iso_codes.csv
in the shapes FIXTURES.md A1-A4 describe, with every grammar case the
cleaners handle present in a fixed proportion (CASES below). It returns the
gold-layer facts that follow from the generated rows alone (row counts,
key ranges, flag counts, planted rule violations), so the pipeline's output
can be checked without a second implementation of the pipeline.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
FIRST = ["Anna", "Carl", "Emil", "Jackie", "Tigran", "Yevgeniya", "Ole",
         "Maria", "Kenji", "Fatima", "Lars", "Ines", "Pavel", "Chen", "Aiko",
         "Diego", "Nadia", "Sven", "Leila", "Marco"]
LAST = ["Lewis", "Zatopek", "Martirosyan", "Kosetskaya", "Joyner", "Berg",
        "Rossi", "Tanaka", "Haddad", "Novak", "Silva", "Olsen", "Moreau",
        "Kim", "Okafor", "Schmidt", "Garcia", "Ivanova", "Nakamura", "Dubois"]
CITIES = ["Seoul", "Praha", "Birmingham", "Helsinki", "Lyon", "Osaka",
          "Sao Paulo", "Nairobi", "Toronto", "Bergen", "Graz", "Porto"]
REGIONS = ["Alabama", "Moravskoslezsky", "Gyeonggi", "Uusimaa", "Rhone",
           "Kansai", "Ontario", "Vestland", "Styria", "Norte"]
# (ISO English short name lower case, alpha-2, alpha-3); the legacy NOC
# names below map onto the first entries (NocExtract.legacyMap)
ISO = [("germany", "DE", "DEU"), ("russian federation", "RU", "RUS"),
       ("united kingdom", "GB", "GBR"), ("south korea", "KR", "KOR"),
       ("czechia", "CZ", "CZE"), ("serbia", "RS", "SRB"),
       ("china", "CN", "CHN"), ("iran", "IR", "IRN"),
       ("united states", "US", "USA"), ("france", "FR", "FRA"),
       ("japan", "JP", "JPN"), ("kenya", "KE", "KEN"), ("brazil", "BR", "BRA"),
       ("canada", "CA", "CAN"), ("norway", "NO", "NOR"),
       ("austria", "AT", "AUT"), ("portugal", "PT", "PRT"),
       ("italy", "IT", "ITA"), ("spain", "ES", "ESP"), ("sweden", "SE", "SWE"),
       ("finland", "FI", "FIN"), ("armenia", "AM", "ARM"),
       ("egypt", "EG", "EGY"), ("zimbabwe", "ZW", "ZWE")]
ALPHA3 = [a3 for _, _, a3 in ISO]
ISO_NAMES = [name.title() for name, _, _ in ISO]
LEGACY_NOC = ["West Germany", "Soviet Union", "Great Britain",
              "Republic of Korea", "Czechoslovakia", "Yugoslavia", "ROC",
              "Islamic Republic of Iran", "United Arab Republic", "Rhodesia"]
DISCIPLINES = ["Athletics", "Swimming", "Rowing", "Artistic Gymnastics (Gymnastics)",
               "Hockey", "Cycling Road (Cycling)", "Fencing", "Wrestling",
               "Alpine Skiing (Skiing)", "Speed Skating (Skating)"]
EVENTS = ["100 metres, Men", "Marathon, Women", "Eights, Men",
          "Hockey, Men (Olympic)", "Team, Women", "Individual, Men",
          "Sabre, Individual, Men", "Heptathlon, Women"]

# Share of athletes (or results) in each grammar case, as the 1-in-k period
# of a fixed row pattern, so the proportions are exact at every size.
CASES = {
    "born_year_only": 7,          # Born = "1950"
    "born_no_place": 11,          # Born = "3 March 1962"
    "born_null": 13,
    "died_set": 9,                # Died = date + place => Is_Alive false
    "height_only": 6,             # Measurements = "182 cm"
    "weight_only": 17,            # Measurements = "70 kg"
    "measurements_null": 19,
    "multi_affiliation": 5,       # "Club A, City (XYZ) / Club B"
    "paren_code_city": 8,         # "Club, (KOR)" => city promoted to country
    "affiliation_null": 4,
    "legacy_noc": 3,              # NOC = "West Germany", "ROC", ...
    "planted_height_range": 2000,  # 260 cm: fails height_range and bmi_sane
    "tied_position": 23,          # Pos = "=41"
    "non_numeric_position": 29,   # Pos = "DNS" / "AC"
    "planted_medal_mismatch": 997,  # Medal Gold at Pos 5: one results failure case
}


def _every(n, k, offset=0):
    return (np.arange(n) + offset) % k == 0


def _editions():
    """Edition rows: Summer/Winter Games, one Intercalated and one Youth
    edition, a war-cancelled edition with comments, and an Ancient row the
    cleaner must drop. Returns (rows, summer_years, winter_years)."""
    rows, summer, winter = [], [], []
    numeral = 0

    def add(year, city, country, opened, closed, comp, comment, gtype, name):
        nonlocal numeral
        numeral += 1
        rows.append({"#": str(numeral), "Year": str(year), "City": city,
                     "Country": country, "Opened": opened, "Closed": closed,
                     "Competition": comp, "Unnamed: 7": comment,
                     "Game_Type": gtype, "Edition_Name": name})

    for i, y in enumerate(range(1896, 2024, 4)):
        if y in (1916, 1940, 1944):
            add(y, CITIES[i % len(CITIES)], "GER", None, None, None,
                "Not held due to war", "Olympic Games", "Summer")
            continue
        summer.append(y)
        if i % 5 == 0:   # null Opened, non-null Competition: imputed Opened
            add(y, CITIES[i % len(CITIES)], ISO[i % len(ISO)][2], None,
                "12 August", "28 July – 12 August", None, "Olympic Games", "Summer")
        elif i % 5 == 1:  # day-range shorthand with en-dash
            add(y, CITIES[i % len(CITIES)], ISO[i % len(ISO)][2], "6 April",
                "15 April", "6 – 13 April", None, "Olympic Games", "Summer")
        else:
            add(y, CITIES[i % len(CITIES)], ISO[i % len(ISO)][2], "19 July",
                "3 August", "20 July – 3 August", None, "Olympic Games", "Summer")
    for i, y in enumerate(list(range(1924, 1993, 4)) + list(range(1994, 2023, 4))):
        if y in (1940, 1944):
            continue
        winter.append(y)
        add(y, CITIES[(i + 3) % len(CITIES)], ISO[(i + 3) % len(ISO)][2],
            "2 February", "13 February", "3 – 13 February", None,
            "Olympic Games", "Winter")
    add(1906, "Athina", "GRE", "22 April", "2 May", "22 April – 2 May", None,
        "Intercalated Games", "")
    add(1956, "Stockholm", "SWE", "10 June", "17 June", "11 – 17 June", None,
        "Olympic Games", "Equestrian")
    add(2010, "Singapore", "SGP", "14 August", "26 August", "15 – 25 August",
        None, "Youth Olympic Games", "Summer")
    add(1900, "Paris", "FRA", None, None, "14 May – 28 October", None,
        "Forerunners to the Olympic Games", "")
    add("776 BC", "Olympia", "GRE", None, None, "6-13 April", None,
        "Ancient Olympic Games", "")
    return rows, summer, winter


def _pick(rng, pool, n):
    """n seeded draws from `pool` as a Python list."""
    return [pool[j] for j in rng.integers(0, len(pool), n)]


def _dates(rng, years):
    days, months = rng.integers(1, 29, len(years)), rng.integers(0, 12, len(years))
    return [f"{d} {MONTHS[m]} {y}" for d, m, y in zip(days, months, years)]


def _places(rng, n):
    return [f"{c}, {r} ({k})" for c, r, k in zip(
        _pick(rng, CITIES, n), _pick(rng, REGIONS, n), _pick(rng, ALPHA3, n))]


def generate(out_dir, athletes, seed):
    """Write the bronze tables for `athletes` athletes under `out_dir`;
    returns (expected gold facts, {table: rows})."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = athletes
    ids = np.arange(1, n + 1)
    born_year = rng.integers(1880, 2006, n)

    born_case = np.full(n, "full", dtype=object)
    born_case[_every(n, CASES["born_no_place"], 1)] = "no_place"
    born_case[_every(n, CASES["born_year_only"], 2)] = "year"
    born_case[_every(n, CASES["born_null"], 3)] = "null"
    died = _every(n, CASES["died_set"], 4) & (born_year < 1990)

    meas_case = np.full(n, "both", dtype=object)
    meas_case[_every(n, CASES["height_only"], 1)] = "height"
    meas_case[_every(n, CASES["weight_only"], 2)] = "weight"
    meas_case[_every(n, CASES["measurements_null"], 3)] = "null"
    planted_height = _every(n, CASES["planted_height_range"], 5)
    meas_case[planted_height] = "planted"
    # heights 165-195 cm and BMI 20-25 keep every imputed pair inside the
    # bmi_sane and range rules, so the planted rows are the only failures
    # (at 260 cm they fail both height_range and bmi_sane)
    height = rng.integers(165, 196, n)
    weight = np.round(rng.uniform(20.0, 25.0, n) * (height / 100.0) ** 2).astype(int)

    aff_case = np.full(n, "single", dtype=object)
    aff_case[_every(n, CASES["multi_affiliation"], 1)] = "multi"
    aff_case[_every(n, CASES["paren_code_city"], 2)] = "paren"
    aff_case[_every(n, CASES["affiliation_null"], 3)] = "null"
    legacy = _every(n, CASES["legacy_noc"], 1)

    first, last, middle = _pick(rng, FIRST, n), _pick(rng, LAST, n), _pick(rng, FIRST, n)
    born_dates, born_places = _dates(rng, born_year), _places(rng, n)
    died_years = np.minimum(2023, born_year + 40 + rng.integers(0, 40, n))
    died_dates, died_places = _dates(rng, died_years), _places(rng, n)
    # the clubs pool bounds dim_affiliations; a triple is what the
    # cleaner's regex parses one rendered affiliation into
    n_clubs = max(50, n // 30)
    clubs = [f"Club {k} AC" for k in rng.integers(0, n_clubs, n)]
    clubs2 = [f"Club {k} AC" for k in rng.integers(0, n_clubs, n)]
    aff_city, aff_code = _pick(rng, CITIES, n), _pick(rng, ALPHA3, n)
    noc = _pick(rng, ISO_NAMES, n)

    born, died_col, meas, affs, nocs = [], [], [], [], []
    triples, bridge = set(), set()
    for i in range(n):
        b = born_case[i]
        born.append(None if b == "null" else str(born_year[i]) if b == "year"
                    else born_dates[i] if b == "no_place"
                    else f"{born_dates[i]} in {born_places[i]}")
        died_col.append(f"{died_dates[i]} in {died_places[i]}" if died[i] else None)
        m = meas_case[i]
        meas.append(None if m == "null" else f"{height[i]} cm" if m == "height"
                    else f"{weight[i]} kg" if m == "weight"
                    else f"260 cm / {weight[i]} kg" if m == "planted"
                    else f"{height[i]} cm / {weight[i]} kg")
        a = aff_case[i]
        if a == "null":
            affs.append(None)
            parts = []
        elif a == "paren":
            affs.append(f"{clubs[i]}, ({aff_code[i]})")
            parts = [(clubs[i], f"({aff_code[i]})", None)]
        else:
            parts = [(clubs[i], aff_city[i], aff_code[i])]
            text = f"{clubs[i]}, {aff_city[i]} ({aff_code[i]})"
            if a == "multi":
                parts.append((clubs2[i], None, None))
                text += f" / {clubs2[i]}"
            affs.append(text)
        for t in parts:
            triples.add(t)
            bridge.add((i, t))
        nocs.append(LEGACY_NOC[i % len(LEGACY_NOC)] if legacy[i] else noc[i])

    sparse = pa.array([None] * n, pa.string())
    bio_cols = {
        "Athlete_Id": pa.array(ids, pa.int32()),
        "Roles": ["Competed in Olympic Games" if i % 10
                  else "Competed in Olympic Games • Coach" for i in range(n)],
        "Sex": np.where(rng.random(n) < 0.5, "Male", "Female").tolist(),
        "Used name": [f"{f}•{s}" for f, s in zip(first, last)],
        "Born": born, "Died": died_col, "Measurements": meas,
        "Affiliations": affs, "NOC": nocs,
        "Full name": [f"{f}•{m}•{s}" for f, m, s in zip(first, middle, last)],
        **{c: sparse for c in ("Title(s)", "Nationality", "Other names",
                               "Original name", "Name order", "Nick/petnames")}}
    pq.write_table(pa.table(bio_cols, schema=pa.schema(
        [pa.field("Athlete_Id", pa.int32(), nullable=False)] +
        [pa.field(c, pa.string()) for c in list(bio_cols)[1:]])),
        os.path.join(out_dir, "biodata.parquet"))

    editions, summer, winter = _editions()
    pq.write_table(pa.Table.from_pylist(editions, schema=pa.schema(
        [pa.field(c, pa.string()) for c in editions[0]])),
        os.path.join(out_dir, "editions.parquet"))

    # results: 1-6 entries per athlete, a quarter of them at Winter Games
    per = rng.integers(1, 7, n)
    r = int(per.sum())
    pos = rng.integers(1, 60, r)
    tied = _every(r, CASES["tied_position"], 1)
    non_num = _every(r, CASES["non_numeric_position"], 2) & ~tied
    mismatch = _every(r, CASES["planted_medal_mismatch"], 3) & ~tied & ~non_num
    is_winter = rng.random(r) < 0.25
    s_years, w_years = _pick(rng, summer, r), _pick(rng, winter, r)
    games = [f"{wy} Winter Olympics" if w else f"{sy} Summer Olympics"
             for w, sy, wy in zip(is_winter, s_years, w_years)]
    pos_s = np.where(non_num, np.where(np.arange(r) % 2 == 1, "DNS", "AC"),
                     np.where(mismatch, "5", np.char.add(np.where(tied, "=", ""),
                                                         pos.astype(str))))
    medal_idx = np.where(non_num | mismatch | (pos > 3), -1, pos - 1)
    medal = np.array(["Gold", "Silver", "Bronze", ""], dtype=object)[medal_idx]
    medal[mismatch] = "Gold"
    team = _pick(rng, ISO_NAMES, r)
    results = pa.table({
        "Athlete_Id": pa.array(np.repeat(ids, per), pa.int32()),
        "Games": games, "NOC": _pick(rng, ALPHA3, r),
        "Discipline": _pick(rng, DISCIPLINES, r),
        "As": [f"{f} {s}" for f, s in zip(_pick(rng, FIRST, r), _pick(rng, LAST, r))],
        "Event": _pick(rng, EVENTS, r),
        "Team": [None if j % 3 else team[j] for j in range(r)],
        "Pos": pos_s.tolist(),
        "Medal": [m or None for m in medal],
        "Nationality": pa.array([None] * r, pa.string()),
        "Unnamed: 7": pa.array([None] * r, pa.string())},
        schema=pa.schema([pa.field("Athlete_Id", pa.int32(), nullable=False)] +
                         [pa.field(c, pa.string()) for c in (
                             "Games", "NOC", "Discipline", "As", "Event", "Team",
                             "Pos", "Medal", "Nationality", "Unnamed: 7")]))
    pq.write_table(results, os.path.join(out_dir, "results.parquet"))

    with open(os.path.join(out_dir, "iso_codes.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["English short name lower case", "Alpha-2 code",
                    "Alpha-3 code", "Numeric code", "ISO 3166-2"])
        for k, (name, a2, a3) in enumerate(ISO):
            w.writerow([name.title(), a2, a3, str(k + 1), f"ISO 3166-2:{a2}"])

    kept = [e for e in editions if e["Game_Type"] != "Ancient Olympic Games"]
    no_height = np.isin(meas_case, ["weight", "null"])
    no_weight = np.isin(meas_case, ["height", "null"])
    expected = {
        "dim_athletes": {
            "n_rows": n, "distinct_key": n, "min_key": 1, "max_key": n,
            "not_alive": int(died.sum()),
            "born_date_null": int((born_case == "null").sum()),
            "height_null": 0, "weight_null": 0,
            "height_imputed": int(no_height.sum()),
            "weight_imputed": int(no_weight.sum())},
        "dim_affiliations": {
            "n_rows": len(triples), "distinct_key": len(triples),
            "min_key": 0, "max_key": len(triples) - 1,
            "city_null": sum(1 for t in triples if t[1] is None or t[1].startswith("("))},
        "bridge_athletes_affiliations": {"n_rows": len(bridge)},
        "dim_games": {
            "n_rows": len(kept), "distinct_key": len(kept), "min_key": 1,
            "max_key": len(kept),
            "opened_imputed": sum(1 for e in kept if e["Opened"] is None and e["Competition"])},
        "fct_results": {
            "n_rows": r, "tied": int(tied.sum()), "gold": int((medal == "Gold").sum()),
            "position_null": int(non_num.sum())},
        "failure_cases_bios": {"height_range": int(planted_height.sum()),
                               "bmi_sane": int(planted_height.sum())},
        "failure_cases_results": {"medal_position_consistent": int(mismatch.sum())},
    }
    sizes = {"biodata": n, "results": r, "editions": len(editions), "iso_codes": len(ISO)}
    return expected, sizes
