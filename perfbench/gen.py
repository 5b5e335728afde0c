"""Seeded input generators for the benchmark.

Two families, both a pure function of (seed, size):

* ``write_tables`` - the engine's star-schema tables (``region`` ...
  ``embeddings``), one single-row-group parquet file each, with the column
  types and value domains the query surface expects. Sizes follow the scale
  factor the way the engine's sf0.01 / sf0.1 inputs do.
* ``write_fan`` - the fan-engagement pipeline's inputs: NDJSON event files,
  the country side-input CSV, and ``facts.json``, the expected-output facts
  the benchmark checks the pipeline's JSONL output against.

``fan_facts`` and ``standardize_race_id`` restate the pipeline's semantics
independently of the engine, so the check does not trust the code it checks.
"""
import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_WORDS = ("join hash row batch scan column customer filter small slow merge order "
          "vector line data table agg value key stream window a spark part group "
          "big sort query fast the").split()


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _table(name, n, sf, rng):
    """One table as a pyarrow Table. ``n`` is the row count at this sf."""
    i64 = np.arange(n, dtype=np.int64)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        keys = np.arange(25, dtype=np.int32)
        return pa.table({
            "n_nationkey": pa.array(keys),
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": pa.array(keys % 5)})
    if name == "customer":
        return pa.table({
            "c_custkey": i64,
            "c_name": [f"Customer#{k:09d}" for k in i64],
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n)})
    if name == "supplier":
        return pa.table({
            "s_suppkey": i64,
            "s_name": [f"Supplier#{k:09d}" for k in i64],
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    if name == "part":
        return pa.table({
            "p_partkey": i64,
            "p_name": [f"{_COLORS[c]} {_NOUNS[w]}" for c, w in
                       zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (i64 % 1000) * 0.1, 1)})
    if name == "orders":
        return pa.table({
            "o_orderkey": i64,
            "o_custkey": rng.integers(0, _rows("customer", sf), n),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2399, n), pa.timestamp("us")),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)})
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, _rows("orders", sf), n),
            "l_partkey": rng.integers(0, _rows("part", sf), n),
            "l_suppkey": rng.integers(0, _rows("supplier", sf), n),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n), pa.timestamp("us"))})
    if name == "events":
        span_us = 30 * 86400 * 1_000_000
        ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us")
        return pa.table({
            "event_id": i64,
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, int(round(15000 * sf))), n),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if name == "documents":
        words = np.array(_WORDS)
        texts = [" ".join(words[rng.integers(0, len(words), k)])
                 for k in rng.integers(10, 100, n)]
        # ~5% near-duplicates: another document's text plus a marker word
        for d in np.flatnonzero(rng.random(n) < 0.05):
            texts[d] = texts[int(rng.integers(0, n))].removesuffix(" dup") + " dup"
        return pa.table({
            "doc_id": i64,
            "text": texts,
            "lang": rng.choice(["en", "de", "es", "fr", "zh"], n,
                               p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{k % 20}" for k in i64],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if name == "embeddings":
        v = rng.standard_normal((n, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return pa.table({
            "vec_id": i64,
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})
    raise ValueError(f"unknown table {name}")


def _rows(name, sf):
    per_sf = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
              "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
              "documents": 50_000}
    if name in ("region", "nation"):
        return {"region": 5, "nation": 25}[name]
    if name == "embeddings":
        return max(500, int(round(20_000 * sf)))
    return max(1, int(round(per_sf[name] * sf)))


def write_tables(out_dir, sf, seed, tables=TABLES):
    """Write ``<out_dir>/<table>.parquet`` for each table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for t in tables:
        # one stream per table, so a table's content does not depend on
        # which other tables were generated alongside it
        rng = np.random.default_rng([seed, TABLES.index(t)])
        tbl = _table(t, _rows(t, sf), sf, rng)
        pq.write_table(tbl, os.path.join(out_dir, f"{t}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
        counts[t] = tbl.num_rows
    return counts


# --- fan-engagement pipeline inputs ----------------------------------------

ALIAS = {"usa": "united states", "us": "united states", "u.s.": "united states",
         "uk": "united kingdom", "uae": "united arab emirates"}

# Country side input: Country, Capital, Continent, language, currency.
COUNTRIES = [
    ("Spain", "Madrid", "Europe", "Spanish", "EUR"),
    ("France", "Paris", "Europe", "French", "EUR"),
    ("Germany", "Berlin", "Europe", "German", "EUR"),
    ("Italy", "Rome", "Europe", "Italian", "EUR"),
    ("Portugal", "Lisbon", "Europe", "Portuguese", "EUR"),
    ("Netherlands", "Amsterdam", "Europe", "Dutch", "EUR"),
    ("Belgium", "Brussels", "Europe", "Dutch, French, German", "EUR"),
    ("Sweden", "Stockholm", "Europe", "Swedish", "SEK"),
    ("UK", "London", "Europe", "English", "GBP"),
    ("USA", "Washington, D.C.", "North America", "English", "USD"),
    ("Canada", "Ottawa", "North America", "English, French", "CAD"),
    ("Mexico", "Mexico City", "North America", "Spanish", "MXN"),
    ("Brazil", "Brasília", "South America", "Portuguese", "BRL"),
    ("Colombia", "Bogotá", "South America", "Spanish", "COP"),
    ("Argentina", "Buenos Aires", "South America", "Spanish", "ARS"),
    ("Chile", "Santiago", "South America", "Spanish", "CLP"),
    ("India", "New Delhi", "Asia", "Hindi, English", "INR"),
    ("Japan", "Tokyo", "Asia", "Japanese", "JPY"),
    ("China", "Beijing", "Asia", "Mandarin", "CNY"),
    ("United Arab Emirates", "Abu Dhabi", "Asia", "Arabic", "AED"),
    ("Australia", "Canberra", "Oceania", "English", "AUD"),
    ("South Africa", "Pretoria", "Africa", "Zulu, Xhosa, Afrikaans, English", "ZAR"),
    ("Egypt", "Cairo", "Africa", "Arabic", "EGP"),
    ("Nigeria", "Abuja", "Africa", "English", "NGN"),
    ("Kenya", "Nairobi", "Africa", "Swahili, English", "KES"),
]

# Viewer countries beyond the CSV names: case/space variants (hit), the
# UK/USA alias quirk (miss), an alias that resolves (UAE, hit), and
# countries absent from the side input (miss).
EXTRA_VIEWERS = ["spain", "  France", "GERMANY ", "UK", "USA", "US", "UAE",
                 "Atlantis", "Wakanda", ""]
DEVICES = ["Mobile", "Desktop", "Tablet", "SmartTV"]
RACE_SHAPES = ["Cup {n}", "league:{n:02d}", "race_{n}"]
FAN_GLOB = "*_fan_engagement-000-of-001.json"


def standardize_race_id(s):
    """The pipeline's RaceID normalization: ``<letters><digits>`` lowercase,
    else the ASCII alphanumerics of the stripped input, lowercased."""
    if s is None:
        return None
    text = s.strip()
    word = "".join(c.lower() for c in text if "A" <= c <= "Z" or "a" <= c <= "z")
    digits = "".join(c for c in text if c.isdigit())
    if word and digits:
        return word + digits
    return "".join(c.lower() for c in text if c.isascii() and c.isalnum())


def lut_keys(countries):
    """Lookup keys the side input yields: stripped lowercase country names,
    plus an alias key only where its canonical long name is already a key."""
    keys = {c.strip().lower() for c, *_ in countries if c.strip()}
    keys |= {a for a, canon in ALIAS.items() if canon in keys}
    return keys


def fan_facts(rows, countries, malformed=0):
    """Expected-output facts for parsed event rows.

    ``rows`` are tuples ``(FanID, RaceID, Timestamp, Country, DeviceType,
    seconds, prediction, merch)``. ``malformed`` is the number of input
    lines that are not JSON objects (dropped on read)."""
    keys = lut_keys(countries)
    out = 0
    fallback = 0
    seconds = 0
    per_race = Counter()
    other = 0
    for _fan, race, _ts, country, device, secs, _p, _m in rows:
        if (device or "").strip(" ") == "Other":
            other += 1
            continue
        out += 1
        seconds += secs
        per_race[standardize_race_id(race)] += 1
        probe = (country or "").strip(" ").lower()
        if ALIAS.get(probe, probe) not in keys:
            fallback += 1
    return {"input_lines": len(rows) + malformed, "malformed_lines": malformed,
            "other_rows": other, "output_rows": out,
            "rows_per_race": dict(sorted(per_race.items())),
            "fallback_rows": fallback, "sum_seconds_watched": seconds}


def country_csv(countries):
    """Side-input CSV text: UTF-8 BOM, headers with trailing spaces, quoted
    multi-value cells, extra columns the pipeline ignores."""
    header = ("\ufeffCountry, Capital, GDP, Population , Pop_Growth_Rate , "
              "Life_Expectancy, Median_Age, Urban_Population, Continent, "
              "Main_Official_Language, Currency")

    def cell(v):
        return f'"{v}"' if "," in v else v

    lines = [header]
    for i, (country, capital, continent, lang, cur) in enumerate(countries):
        lines.append(",".join([
            cell(country), cell(capital), f"{1.5 + i * 0.1:.1f}",
            str(10_000_000 + i * 1_234_567), f"{0.1 * (i % 9):.1f}",
            f"{70 + i % 12}.{i % 10}", f"{28 + i % 15}.{i % 7}",
            f"{40 + i % 50}.{i % 3}", cell(continent), cell(lang), cell(cur)]))
    return "\n".join(lines) + "\n"


def fan_rows(n_rows, seed):
    """Event rows and the indexes of the lines written malformed instead."""
    rng = np.random.default_rng([seed, 1000])
    viewers = [c for c, *_ in COUNTRIES] + EXTRA_VIEWERS
    viewer = rng.integers(0, len(viewers), n_rows)
    device = rng.integers(0, len(DEVICES), n_rows)
    r = rng.random(n_rows)
    shape = rng.integers(0, 3, n_rows)
    race_n = rng.integers(1, 13, n_rows)
    secs = rng.integers(30, 3601, n_rows)
    start = np.datetime64("2025-06-03T20:00:00", "s")
    ts = (start + rng.integers(0, 6 * 3600, n_rows)).astype(str)
    pred = rng.random(n_rows) < 0.3
    merch = rng.random(n_rows) < 0.1
    rows = []
    for i in range(n_rows):
        # ~20% Other (a few space-padded, which the filter trims); a few
        # lowercase "other", which the case-sensitive filter keeps
        dev = (" Other " if r[i] < 0.01 else "Other" if r[i] < 0.2
               else "other" if r[i] < 0.205 else DEVICES[device[i]])
        rows.append((f"F{i % 5000:04d}", RACE_SHAPES[shape[i]].format(n=race_n[i]),
                     ts[i].replace("T", " "), viewers[viewer[i]], dev,
                     int(secs[i]), bool(pred[i]), bool(merch[i])))
    malformed = set(np.flatnonzero(rng.random(n_rows) < 0.001).tolist())
    return rows, malformed


def _line(row):
    fan, race, ts, country, dev, secs, pred, merch = row
    return (f'{{"FanID": "{fan}", "RaceID": "{race}", "Timestamp": "{ts}", '
            f'"ViewerLocationCountry": "{country}", "DeviceType": "{dev}", '
            f'"EngagementMetric_secondswatched": {secs}, '
            f'"PredictionClicked": {"true" if pred else "false"}, '
            f'"MerchandisingClicked": {"true" if merch else "false"}}}')


def write_fan(out_dir, n_rows, n_files, seed):
    """Write the NDJSON event files, ``country_data.csv`` and ``facts.json``.

    A malformed line replaces the row it was drawn for (truncated JSON or
    plain text), so the facts count only the rows that parse."""
    os.makedirs(out_dir, exist_ok=True)
    rows, malformed = fan_rows(n_rows, seed)
    per_file = -(-n_rows // n_files)
    for f in range(n_files):
        lines = []
        for i in range(f * per_file, min(n_rows, (f + 1) * per_file)):
            if i in malformed:
                lines.append(_line(rows[i])[:40] if i % 2 else "not json at all")
            else:
                lines.append(_line(rows[i]))
        path = os.path.join(out_dir, f"events{f:02d}_fan_engagement-000-of-001.json")
        with open(path, "w", encoding="utf-8", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
    with open(os.path.join(out_dir, "country_data.csv"), "w", encoding="utf-8",
              newline="\n") as fh:
        fh.write(country_csv(COUNTRIES))
    kept = [row for i, row in enumerate(rows) if i not in malformed]
    facts = fan_facts(kept, COUNTRIES, malformed=len(malformed))
    with open(os.path.join(out_dir, "facts.json"), "w") as fh:
        json.dump(facts, fh, indent=1, sort_keys=True)
    return facts


def output_facts(jsonl_path):
    """The same facts, read back from the pipeline's JSONL output."""
    out = fallback = seconds = 0
    per_race = Counter()
    with open(jsonl_path, encoding="utf-8") as fh:
        for line in fh:
            rec = json.loads(line)
            out += 1
            seconds += rec["EngagementMetric_secondswatched"]
            per_race[rec["RaceID"]] += 1
            loc = rec["LocationData"]
            if loc["capital"] == "" and loc["currency"] == "":
                fallback += 1
    return {"output_rows": out, "rows_per_race": dict(sorted(per_race.items())),
            "fallback_rows": fallback, "sum_seconds_watched": seconds}
