"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (workload config, seed): the same
seed writes byte-for-byte the same inputs. The engine only ever sees the
files written here.

- query_floor: a seeded row permutation of the bundled sf0.001 fixture.
- rows_heavy:  a replica fixture (the tools/make_scale_fixture.py way:
  entity keys offset by a power of ten per replica so foreign keys stay
  consistent inside a replica) of the bundled fixture, then permuted.
- medallion:   raw landing files for the reference pipeline (a WDI-shaped
  wide CSV, a country dimension CSV, CO2-shaped JSON lines per year) with
  known counts of injected bad rows, plus the expected audit counts.
"""
import csv
import json
import os
import random

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# table -> entity-key columns shifted per replica (make_scale_fixture.py)
OFFSET_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _pow10_above(n):
    p = 1
    while p <= n:
        p *= 10
    return p


def tables(con, dst, seed, replicas=1):
    """Write every fixture table to `dst`, replicated `replicas` times and
    row-permuted by `seed`. Returns {table: rows}."""
    os.makedirs(dst, exist_ok=True)
    src = {t: os.path.join(FIXTURE, f"{t}.parquet") for t in TABLES}
    fam = {}
    for t, cols in OFFSET_COLS.items():
        for c in cols:
            f = c.split("_", 1)[-1]
            m = con.execute(
                f"SELECT max({c}) FROM read_parquet('{src[t]}')").fetchone()[0]
            fam[f] = max(fam.get(f, 0), int(m))
    off = {f: _pow10_above(m) for f, m in fam.items()}
    rows = {}
    for t in TABLES:
        cols = [d[0] for d in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src[t]}')").fetchall()]
        reps = replicas if t in OFFSET_COLS else 1
        parts = []
        for r in range(reps):
            sel = ", ".join(
                f"{c} + {r * off[c.split('_', 1)[-1]]} AS {c}"
                if c in OFFSET_COLS.get(t, []) else c for c in cols)
            parts.append(
                f"SELECT {sel}, file_row_number + {r * 1000000000}::BIGINT AS _rn "
                f"FROM read_parquet('{src[t]}', file_row_number = true)")
        union = " UNION ALL ".join(parts)
        # the permutation key is a hash of (row number, seed): a total,
        # seed-determined order, independent of scan parallelism
        q = (f"SELECT {', '.join(cols)} FROM ({union}) "
             f"ORDER BY hash(_rn, {int(seed)}), _rn")
        out = os.path.join(dst, f"{t}.parquet")
        con.execute(f"COPY ({q}) TO '{out}' (FORMAT PARQUET)")
        rows[t] = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}')").fetchone()[0]
    return rows


# ---- medallion raw files ---------------------------------------------------

CO2_YEARS = [2017, 2018, 2019, 2020]
MAKERS = ["BMW", "AUDI", "FIAT", "FORD", "KIA", "SEAT", "SKODA", "VOLVO",
          "FERRARI", "TOYOTA"]
REGIONS = ["Europe", "Asia", "Americas", "Africa", "Oceania"]
INCOME = ["High income", "Upper middle", "Lower middle", "Low income"]
LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _codes(rng, n, length):
    out, seen = [], set()
    while len(out) < n:
        c = "".join(rng.choice(LETTERS) for _ in range(length))
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


def medallion(dst, seed, cfg):
    """Write the raw landing files and return the generator's truth: the
    injected bad-row counts, the expected per-stage audit counts and the
    expected versioned-table contents."""
    rng = random.Random(seed)
    os.makedirs(dst, exist_ok=True)
    n_c, n_i = cfg["countries"], cfg["indicators"]
    years = list(range(2021 - cfg["year_columns"], 2021))
    countries = _codes(rng, n_c + cfg["bad_code_rows"], 3)
    good_c, spare_c = countries[:n_c], countries[n_c:]
    inds = [f"IND.{i:03d}.{rng.choice(LETTERS)}" for i in range(n_i)]

    def values():
        return ["" if rng.random() < 0.05 else f"{rng.uniform(0, 1000):.3f}"
                for _ in years]

    good = [[f"Country {c}", c, f"Indicator {i}", i] + values()
            for c in good_c for i in inds]
    bad_code = []
    for c in spare_c:  # 2- or 4-letter codes fail the length-3 filter
        code = c[:2] if rng.random() < 0.5 else c + "X"
        bad_code.append([f"Country {code}", code, "Indicator bad",
                         rng.choice(inds)] + values())
    bad_ind = [[f"Country {c}", c, "Indicator spaced", f"IND {k:03d}"]
               + values() for k, c in
               enumerate(rng.choice(good_c)
                         for _ in range(cfg["spaced_code_rows"]))]
    dups = [list(r) for r in rng.sample(good, cfg["duplicate_rows"])]
    nulls = [[""] * (4 + len(years)) for _ in range(cfg["all_null_rows"])]
    wdi = good + bad_code + bad_ind + dups + nulls
    rng.shuffle(wdi)
    wdi_dir = os.path.join(dst, "landing", "wdi")
    os.makedirs(wdi_dir, exist_ok=True)
    with open(os.path.join(wdi_dir, "WDIData.csv"), "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(["Country Name", "Country Code", "Indicator Name",
                    "Indicator Code"] + [str(y) for y in years])
        w.writerows(wdi)

    country_dir = os.path.join(dst, "landing", "country")
    os.makedirs(country_dir, exist_ok=True)
    aggregates = ["WLD", "EUU", "OED"]
    with open(os.path.join(country_dir, "WDICountry.csv"), "w",
              newline="") as f:
        w = csv.writer(f)
        w.writerow(["Country Code", "2-alpha code", "Currency Unit",
                    "Region", "Income Group"])
        for c in good_c:
            w.writerow([c, c[:2], f"{c} unit", rng.choice(REGIONS),
                        rng.choice(INCOME)])
        for c in aggregates:  # null Region: filtered before the joins
            w.writerow([c, c[:2], "", "", ""])

    # CO2: one JSON-lines file per year; IDs unique across years
    ms_codes = _codes(rng, cfg["member_states"], 2)
    co2_dir = os.path.join(dst, "landing", "co2")
    os.makedirs(co2_dir, exist_ok=True)
    good_by_year = {}
    next_id = 1
    for y in CO2_YEARS:
        recs = []
        for _ in range(cfg["co2_rows_per_year"]):
            recs.append({"ID": next_id, "MS": rng.choice(ms_codes),
                         "Mh": rng.choice(MAKERS), "year": y,
                         "Enedc (g/km)": round(rng.uniform(80, 250), 1),
                         "ec (cm3)": float(rng.randrange(900, 4000)),
                         "z (Wh/km)": None})
            next_id += 1
        good_by_year[y] = [dict(r) for r in recs]
        corrupt = []
        for _ in range(cfg["corrupt_ms_rows"]):
            bad = rng.choice([rng.choice(ms_codes).lower(),
                              rng.choice(ms_codes) + "X"])
            corrupt.append({"ID": next_id, "MS": bad,
                            "Mh": rng.choice(MAKERS), "year": y,
                            "Enedc (g/km)": 100.0, "ec (cm3)": 1000.0,
                            "z (Wh/km)": None})
            next_id += 1
        dup = [dict(r) for r in rng.sample(recs, cfg["co2_duplicate_rows"])]
        allnull = [{k: None for k in recs[0]}
                   for _ in range(cfg["co2_all_null_rows"])]
        lines = recs + corrupt + dup + allnull
        rng.shuffle(lines)
        with open(os.path.join(co2_dir, f"co2_{y}.json"), "w") as f:
            for r in lines:
                f.write(json.dumps(r, sort_keys=True) + "\n")

    n_good = len(good)
    wdi_raw = len(wdi)
    truth = {
        "injected": {
            "wdi_bad_code": len(bad_code), "wdi_spaced_code": len(bad_ind),
            "wdi_duplicates": len(dups), "wdi_all_null": len(nulls),
            "co2_corrupt_ms": cfg["corrupt_ms_rows"] * len(CO2_YEARS),
            "co2_duplicates": cfg["co2_duplicate_rows"] * len(CO2_YEARS),
            "co2_all_null": cfg["co2_all_null_rows"] * len(CO2_YEARS),
        },
        # expected Cleaning.runAudited counts, stage by stage
        "wdi_audit": [
            ["input", wdi_raw], ["normalize_names", wdi_raw],
            ["drop_all_null", wdi_raw - len(nulls)],
            ["dedup", wdi_raw - len(nulls) - len(dups)],
            ["validity_0", n_good + len(bad_ind)],
            ["validity_1", n_good]],
        "co2_good_by_year": {
            str(y): len(v) for y, v in good_by_year.items()},
        "member_states": ms_codes,
        "countries": n_c, "indicators": n_i, "years": years,
    }
    per_year = cfg["co2_rows_per_year"]
    co2_raw = len(CO2_YEARS) * (per_year + cfg["corrupt_ms_rows"]
                                + cfg["co2_duplicate_rows"]
                                + cfg["co2_all_null_rows"])
    truth["co2_audit"] = [
        ["input", co2_raw], ["normalize_names", co2_raw],
        ["drop_all_null", co2_raw - truth["injected"]["co2_all_null"]],
        ["dedup", co2_raw - truth["injected"]["co2_all_null"]
         - truth["injected"]["co2_duplicates"]],
        ["validity_0", per_year * len(CO2_YEARS)]]
    truth["versioned"] = _versioned_truth(good_by_year, ms_codes, cfg)
    truth["raw_bytes"] = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(os.path.join(dst, "landing")) for f in fs)
    truth["raw_rows"] = wdi_raw + n_c + len(aggregates) + co2_raw
    with open(os.path.join(dst, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def _versioned_truth(good_by_year, ms_codes, cfg):
    """Replay the medallion's table steps on the generator's rows and
    return what each checked read must see. The steps themselves live in
    the harness (PerfBench.scala, `medallionOps`); this is their model."""
    base = good_by_year[2017] + good_by_year[2018]
    v = {0: len(base)}
    after_2019 = len(base) + len(good_by_year[2019])
    v[1] = after_2019                       # repaired append of 2019
    v[2] = after_2019 + len(good_by_year[2020])   # mergeSchema append
    ids = sorted(r["ID"] for y in CO2_YEARS for r in good_by_year[y])
    upsert_new = cfg["upsert_new_rows"]
    v[3] = v[2]                             # update keeps every row
    v[4] = v[2] + upsert_new                # upsert inserts the new keys
    delete_ms = sorted(ms_codes)[0]
    # the upsert's new rows copy the lowest-ID rows under fresh IDs, so the
    # delete also removes the copies of that member state
    by_id = {r["ID"]: r for y in CO2_YEARS for r in good_by_year[y]}
    deleted = sum(1 for r in by_id.values() if r["MS"] == delete_ms) + sum(
        1 for i in ids[:upsert_new] if by_id[i]["MS"] == delete_ms)
    v[5] = v[4] - deleted                   # delete one member state
    lo, hi = ids[len(ids) // 4], ids[len(ids) // 4 + cfg["pruned_range"]]
    in_range = sum(1 for y in CO2_YEARS for r in good_by_year[y]
                   if lo <= r["ID"] <= hi and r["MS"] != delete_ms)
    return {"rows_at_version": {str(k): n for k, n in v.items()},
            "delete_ms": delete_ms, "max_id": ids[-1],
            "upsert_existing": cfg["upsert_existing_rows"],
            "upsert_new": upsert_new,
            "scan_lo": lo, "scan_hi": hi, "scan_rows": in_range}


def generate(workload, cfg, seed, dst):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    if workload == "medallion":
        return {"truth": medallion(dst, seed, cfg)}
    rows = tables(con, dst, seed, cfg.get("replicas", 1))
    size = sum(os.path.getsize(os.path.join(dst, f"{t}.parquet"))
               for t in TABLES)
    return {"rows": rows, "bytes": size}
