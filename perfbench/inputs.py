"""Seeded benchmark inputs, cached per seed outside every timed region.

The engine only ever sees what this module writes:
  - the daily run's raw-JSON batch (country x day files, some of them
    bad);
  - the partitioned gold copy of `events` and a seeded backfill for it.

The raw batch has the reference's shape as SURVEY.md records it: its three
countries (SURVEY.md, "Dataset scale"), a 30-day window per run (the DAG's
end date is start + 29 days) and one record per day-file (the extractor
keeps `json()["data"][0]`). The share of bad files is not recorded
anywhere; BAD_FILE_RATE is an assumption.
"""
import datetime
import json
import os
import random
import shutil

import duckdb

COUNTRIES = [("MDA", "Moldova"), ("DEU", "Germany"), ("ITA", "Italy")]
DAYS = 30
# assumed: no source records how many of the reference's files are bad
BAD_FILE_RATE = 0.125

COVID_SCHEMA = ("date STRING, confirmed INT, deaths INT, recovered INT, "
                "confirmed_diff INT, deaths_diff INT, recovered_diff INT, "
                "active INT, active_diff INT, fatality_rate DOUBLE, "
                "last_update STRING, region STRING")
WEATHER_SCHEMA = ("date STRING, tavg DOUBLE, tmin DOUBLE, tmax DOUBLE, "
                  "prcp DOUBLE, snow DOUBLE, wdir DOUBLE, wspd DOUBLE, "
                  "wpgt DOUBLE, pres DOUBLE, tsun DOUBLE")
# columns whose NULL fails the whole file (Etl.covidNullCheckCols /
# Etl.weatherCheckCols minus the default-filled snow/tsun)
COVID_CHECK = ["date", "confirmed", "deaths", "recovered", "last_update",
               "region"]
WEATHER_CHECK = ["date", "tavg", "tmin", "tmax"]
WEATHER_DEFAULTED = ["snow", "tsun"]


def _covid_row(rng, day):
    c = rng.randint(1000, 90000)
    d = rng.randint(0, c // 20)
    r = rng.randint(0, c - d)
    return {"date": day, "confirmed": c, "deaths": d, "recovered": r,
            "confirmed_diff": rng.randint(0, 500),
            "deaths_diff": rng.randint(0, 20),
            "recovered_diff": rng.randint(0, 400), "active": c - d - r,
            "active_diff": rng.randint(-300, 300),
            "fatality_rate": round(d / c, 4),
            "last_update": day + " 23:59:59", "region": "All"}


def _weather_row(rng, day):
    t = round(rng.uniform(-5, 25), 1)
    return {"date": day, "tavg": t, "tmin": round(t - rng.uniform(1, 8), 1),
            "tmax": round(t + rng.uniform(1, 8), 1),
            "prcp": round(rng.uniform(0, 12), 1),
            "snow": None if rng.random() < 0.5 else round(rng.uniform(0, 5), 1),
            "wdir": float(rng.randint(0, 359)),
            "wspd": round(rng.uniform(0, 40), 1),
            "wpgt": round(rng.uniform(0, 70), 1),
            "pres": round(rng.uniform(990, 1035), 1),
            "tsun": None if rng.random() < 0.5 else float(rng.randint(0, 600))}


def raw_batch(seed, dest):
    """One country x day raw-JSON batch per API: DAYS files for each of
    COUNTRIES, one record each; a share BAD_FILE_RATE of the files carries
    a NULL in a checked column, which sends the whole file to the error
    zone.
    Returns {(api, iso): [(file, [record, ...]), ...]}."""
    rng = random.Random(f"raw-{seed}")
    start = 1 + rng.randint(0, 300)
    batch = {}
    for api, make, check in (("covid", _covid_row, COVID_CHECK),
                             ("weather", _weather_row, WEATHER_CHECK)):
        for iso, _ in COUNTRIES:
            d = os.path.join(dest, api, iso)
            os.makedirs(d, exist_ok=True)
            files = []
            for k in range(DAYS):
                day = str(_date(start + k))
                rows = [make(rng, day)]
                if rng.random() < BAD_FILE_RATE:
                    rows[0][rng.choice(check[1:])] = None
                name = f"{iso}_{api.upper()}_{day}.json"
                with open(os.path.join(d, name), "w") as f:
                    for r in rows:
                        f.write(json.dumps(r) + "\n")
                files.append((name, rows))
            batch[(api, iso)] = files
    return batch


def _date(day_of_2021):
    return datetime.date(2021, 1, 1) + datetime.timedelta(days=day_of_2021)


def expected_zones(api, country, files):
    """The processed and error zones Etl.fileLevelSplit semantics give: a
    file with any bad row goes whole to the error zone, untouched; the
    other files' rows are transformed (country added; covid drops
    last_update/region; weather fills NULL snow/tsun with 0.0)."""
    check = COVID_CHECK if api == "covid" else WEATHER_CHECK
    processed, error = [], []
    for _, rows in files:
        if any(r[c] is None for r in rows for c in check):
            error.extend(dict(r) for r in rows)
            continue
        for r in rows:
            r = dict(r, country=country)
            if api == "covid":
                del r["last_update"], r["region"]
            else:
                for c in WEATHER_DEFAULTED:
                    if r[c] is None:
                        r[c] = 0.0
            processed.append(r)
    return processed, error


def gold_events(src_dir, dest):
    """The partitioned gold copy of `events` (one directory per day)."""
    if os.path.exists(os.path.join(dest, "_done")):
        return
    shutil.rmtree(dest, ignore_errors=True)
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT *, CAST(ts AS DATE) AS date FROM "
        f"read_parquet('{src_dir}/events.parquet') ORDER BY event_id) "
        f"TO '{dest}' (FORMAT PARQUET, PARTITION_BY (date))")
    open(os.path.join(dest, "_done"), "w").close()


def backfill(seed, gold, dest):
    """A seeded backfill over five of the gold days: about 4% of those days'
    events change value and type, plus 500 new events. Returns the touched
    days (the partitions the upsert rewrites)."""
    rng = random.Random(f"backfill-{seed}")
    con = duckdb.connect()
    days = [str(r[0]) for r in con.execute(
        f"SELECT DISTINCT date FROM read_parquet('{gold}/*/*.parquet', "
        f"hive_partitioning = true) ORDER BY 1").fetchall()]
    touched = sorted(rng.sample(days, 5))
    inlist = ", ".join(f"DATE '{d}'" for d in touched)
    salt = rng.randint(1, 1 << 30)
    con.execute(f"""
        COPY (
          SELECT event_id, ts, user_id,
                 CASE WHEN event_type = 'view' THEN 'click' ELSE 'view' END
                   AS event_type,
                 round(value * 1.5 + 1, 2) AS value, props, date
          FROM read_parquet('{gold}/*/*.parquet', hive_partitioning = true)
          WHERE date IN ({inlist}) AND hash(event_id + {salt}) % 25 = 0
          UNION ALL
          SELECT 900000000 + i AS event_id,
                 CAST(d AS TIMESTAMP) + to_seconds((i * 7919 + {salt}) % 86400),
                 (i * 31 + {salt}) % 5000 AS user_id, 'purchase',
                 round(((i * 131 + {salt}) % 10000) / 100.0, 2), NULL, d
          FROM range(500) t(i),
               (SELECT unnest([{inlist}]) AS d, row_number() OVER () AS k)
          WHERE i % 5 = k - 1
          ORDER BY event_id)
        TO '{dest}' (FORMAT PARQUET)""")
    return touched
