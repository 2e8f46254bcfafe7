"""Seeded reference-format inputs for the ``reference_etl`` workload.

``make_reference_inputs`` writes the reference pipeline's own formats
(fixed-width death records, the INSEE geo CSV, nuclear and thermal plant
CSVs), generated from the run's ``--seed``. It returns the expected
answers derived here, independently of the engine: rows kept per batch
under the bad-date / missing-INSEE / NaN-coordinate drop rules, rows the
idempotent sink must reject, and per-plant counts of deaths within the
radius from a numpy brute-force haversine.

Run ``python3 perfbench/gen.py DIR`` to write a small set into DIR.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

# The formats are those of FIXTURES.md §1-4.
EARTH_RADIUS_KM = 6371.0088
RADIUS_KM = 20.0
N_GEO = 35_000
LAT_RANGE = (42.0, 51.0)
LON_RANGE = (-5.0, 8.0)

NUCLEAR_HEADER = (
    "centrale;tranche;filiere;sector;sous_filiere;sub_sector;contrat_programme;"
    "combustible;fuel;point_gps_wsg84;region;code_insee_region;departement;"
    "code_insee_departement;epci;code_insee_epci;commune;code_insee_commune;tri;"
    "perimetre_juridique;perimetre_spatial;spatial_perimeter;"
    "date_de_mise_en_service_industrielle;puissance_installee;"
    "puissance_minimum_de_conception;reserve_secondaire_maximale;unite"
)
THERMAL_HEADER = (
    "tri;perimetre_juridique;perimetre_spatial;spatial_perimeter;filiere;sector;"
    "centrale;tranche;combustible;fuel;sous_filiere;sub_sector;"
    "date_de_mise_en_service_industrielle;puissance_installee;unite;"
    "point_gps_wsg84;region;code_insee_region;departement;code_insee_departement;"
    "epci;code_insee_epci;commune;code_insee_commune;reserve_secondaire_maximale"
)


def haversine_km(lat1, lon1, lat2, lon2):
    """The engine's haversine (functions/geo.py), operation for operation."""
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1) / 2
    dlon = np.radians(lon2 - lon1) / 2
    a = np.sin(dlat) * np.sin(dlat) + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon) * np.sin(dlon)
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


def _death_batch(rng, seed: int, first: int, n: int, codes: np.ndarray, unknown: np.ndarray):
    """``n`` fixed-width records numbered from ``first``; returns the
    lines, a validity mask (before the geo NaN rule) and each row's code."""
    birth = zip(*(x.tolist() for x in (
        rng.integers(1920, 1991, n), rng.integers(1, 13, n), rng.integers(1, 29, n))))
    death = zip(*(x.tolist() for x in (
        rng.integers(2018, 2024, n), rng.integers(1, 13, n), rng.integers(1, 29, n))))
    bad_birth = rng.random(n) < 0.02
    bad_death = rng.random(n) < 0.01
    code = codes[rng.integers(0, len(codes), n)]
    missing = rng.random(n) < 0.03
    code = np.where(missing, unknown[rng.integers(0, len(unknown), n)], code)
    lines = [
        f"{f'NAME{seed}_{k}*PRENOM/':<80}1"
        + ("19XX0101" if bb else f"{by:04d}{bm:02d}{bd:02d}")
        + f"{f'99999VILLE{k % 997}':<65}"
        + ("2022AB01" if db else f"{dy:04d}{dm:02d}{dd:02d}")
        + c
        for k, (by, bm, bd), (dy, dm, dd), bb, db, c in zip(
            range(first, first + n), birth, death,
            bad_birth.tolist(), bad_death.tolist(), code.tolist(),
        )
    ]
    return lines, ~(bad_birth | bad_death | missing), code


def make_reference_inputs(out_dir: str, seed: int, lines_per_batch: int) -> dict:
    """Write deaths_1.txt, deaths_2.txt, geo.csv, nuclear.csv and
    thermal.csv; returns their paths, sizes and the expected answers."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)

    # Geo dimension: N_GEO distinct codes, 1% with NaN coordinates.
    code_int = np.sort(rng.choice(np.arange(1000, 99_000), N_GEO, replace=False))
    codes = np.char.zfill(code_int.astype(str), 5)
    unknown = np.char.zfill(np.setdiff1d(np.arange(99_000, 100_000), code_int).astype(str), 5)
    lat = np.array([float(f"{v:.4f}") for v in rng.uniform(*LAT_RANGE, N_GEO)])
    lon = np.array([float(f"{v:.4f}") for v in rng.uniform(*LON_RANGE, N_GEO)])
    nan_geo = rng.random(N_GEO) < 0.01
    geo_rows = ["code_commune_INSEE,latitude,longitude"] + [
        f"{c},NaN,NaN" if bad else f"{c},{a:.4f},{b:.4f}"
        for c, a, b, bad in zip(codes, lat, lon, nan_geo)
    ]
    geo_lookup = {c: i for i, c in enumerate(codes)}

    # Two batches; the second repeats the second half of the first.
    half = lines_per_batch // 2
    l1, ok1, c1 = _death_batch(rng, seed, 0, lines_per_batch, codes, unknown)
    l_new, ok_new, c_new = _death_batch(rng, seed, lines_per_batch, lines_per_batch - half, codes, unknown)
    l2 = l1[half:] + l_new
    ok2 = np.concatenate([ok1[half:], ok_new])
    c2 = np.concatenate([c1[half:], c_new])

    def _kept(ok, c):
        idx = np.array([geo_lookup.get(x, -1) for x in c])
        keep = ok & (idx >= 0)
        keep[keep] &= ~nan_geo[idx[keep]]
        return keep, idx

    keep1, idx1 = _kept(ok1, c1)
    keep2, idx2 = _kept(ok2, c2)
    overlap_kept = int(keep1[half:].sum())

    # Plants: duplicate names within each file, 10% unparseable dates.
    def _plants(prefix: str, n_rows: int, n_names: int, fuel: str):
        rows = []
        for r in range(n_rows):
            name = f"{prefix}{r % n_names:02d}"
            plat = float(f"{rng.uniform(*LAT_RANGE):.6f}")
            plon = float(f"{rng.uniform(*LON_RANGE):.6f}")
            # r spreads dates and powers so first-wins dedup has no ties.
            year, power = 1960 + r, 400.0 + 17.5 * ((r * 7) % n_rows)
            date = "not-a-date" if rng.random() < 0.1 else (
                f"{year}{1 + r % 12:02d}15" if r % 3 == 0 else f"{year}-{1 + r % 12:02d}-01"
            )
            rows.append(dict(name=name, lat=plat, lon=plon, date=date, power=power,
                             valid=date != "not-a-date", fuel=fuel, order=r))
        return rows

    nuclear = _plants("NUCLEAIRE_", 60, 20, "Enriched Uranium")
    thermal = _plants("THERMIQUE_", 40, 15, "Gas")

    def _nuclear_line(p):
        cols = {c: "" for c in NUCLEAR_HEADER.split(";")}
        cols.update(centrale=p["name"], tranche=f"{p['name']} 1", filiere="Nucléaire",
                    sector="Nuclear", contrat_programme="P'4", combustible="Uranium Enrichi",
                    fuel=p["fuel"], point_gps_wsg84=f"{p['lat']},{p['lon']}", tri="3",
                    perimetre_juridique="EDF SA", unite="MW",
                    date_de_mise_en_service_industrielle=p["date"],
                    puissance_installee=str(p["power"]))
        return ";".join(cols.values())

    def _thermal_line(p):
        cols = {c: "" for c in THERMAL_HEADER.split(";")}
        cols.update(centrale=p["name"], tranche=f"{p['name']} TAC", filiere="Thermique",
                    sector="Thermal", combustible="Gaz", fuel=p["fuel"], tri="1",
                    point_gps_wsg84=f"{p['lat']},{p['lon']}", perimetre_juridique="EDF SA",
                    unite="MW", date_de_mise_en_service_industrielle=p["date"],
                    puissance_installee=str(p["power"]))
        return ";".join(cols.values())

    # First-wins dedup per name: earliest creation date, then power desc.
    survivors = {}
    for p in nuclear + thermal:
        if p["valid"]:
            key = (p["order"], -p["power"])  # year grows with r, so r orders dates
            if p["name"] not in survivors or key < survivors[p["name"]][0]:
                survivors[p["name"]] = (key, p)
    plants = [p for _, p in survivors.values()]

    # Points: every distinct kept death; batch 2's repeated rows come first.
    repeated = lines_per_batch - half
    gi = np.concatenate([idx1[keep1], idx2[repeated:][keep2[repeated:]]])
    near = {}
    for p in plants:
        d = haversine_km(lat[gi], lon[gi], p["lat"], p["lon"])
        cnt = int((d <= RADIUS_KM).sum())
        if cnt:
            near[p["name"]] = cnt

    files = {
        "deaths_1": "\n".join(l1) + "\n",
        "deaths_2": "\n".join(l2) + "\n",
        "geo": "\n".join(geo_rows) + "\n",
        "nuclear": "\n".join([NUCLEAR_HEADER] + [_nuclear_line(p) for p in nuclear]) + "\n",
        "thermal": "\n".join([THERMAL_HEADER] + [_thermal_line(p) for p in thermal]) + "\n",
    }
    ext = {"deaths_1": ".txt", "deaths_2": ".txt"}
    paths, sizes = {}, {}
    for key, text in files.items():
        path = os.path.join(out_dir, key + ext.get(key, ".csv"))
        with open(path, "w") as f:
            f.write(text)
        paths[key] = path
        sizes[key] = (text.count("\n") - (0 if key.startswith("deaths") else 1), os.path.getsize(path))
    kept = [int(keep1.sum()), int(keep2.sum())]
    return {
        "paths": paths,
        "sizes": sizes,
        "expected": {
            "kept": kept,
            "written": [kept[0], kept[1] - overlap_kept],
            "rejected": overlap_kept,
            "plants": len(plants),
            "near_counts": near,
        },
    }


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "perfbench_inputs"
    print(json.dumps(make_reference_inputs(out, 1, 1000)["expected"]))
