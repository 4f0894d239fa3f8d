"""Seeded input generators for ``capstone_etl`` and ``corpus_dedup``.

Every generator is a pure function of ``(seed, size)``: the same pair
always writes byte-identical inputs. Outputs go to a cache directory
keyed by workload, seed and size, so a repeated run skips generation.
Generation, and the expected figures the output checks use, run before
any timer starts.

* ``capstone``: reference staging in the FIXTURES.md shapes (I94 parquet
  in two monthly files, temperature CSV, airport-codes CSV), with the
  traps the cleaning code must handle.
* ``corpus``: a document corpus over a Zipf pseudo-word vocabulary with
  planted exact copies, planted near-duplicate clusters and planted
  low-quality documents.
"""

from __future__ import annotations

import json
import os
import shutil
import string

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VALID_US_STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DC", "DE", "FL", "GA",
    "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD",
    "MA", "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ",
    "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA", "RI", "SC",
    "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY",
]

#: Shares planted in the capstone staging.
IMM_DUP_SHARE = 0.02        # exact full-row duplicates
IMM_INVALID_STATE_SHARE = 0.03
IMM_NULL_STATE_SHARE = 0.03
IMM_NULL_GENDER_SHARE = 0.10
TEMP_NULL_SHARE = 0.05      # empty AverageTemperature -> dropped

#: Shares planted in the corpus (of all documents).
CORPUS_EXACT_SHARE = 0.05   # exact or case/whitespace-only copies
CORPUS_NEAR_SHARE = 0.10    # near-duplicate variants of a base document
CORPUS_SHORT_SHARE = 0.04   # too short for the Gopher rules
CORPUS_EDIT_FRAC = 0.02     # share of words replaced in a near-dup variant


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per generator part, stable under code reordering."""
    key = sum((i + 1) * ord(c) for i, c in enumerate(stream))
    return np.random.default_rng([seed, key])


def _codes(rng: np.random.Generator, n: int, length: int) -> list[str]:
    letters = np.array(list(string.ascii_uppercase))
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters, length)))
    return sorted(out)


def _zipf_pick(rng: np.random.Generator, n_items: int, size: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def _cached(cache_root: str, name: str, build) -> str:
    """Build ``name`` under ``cache_root`` once; a finished build leaves
    ``meta.json`` behind, a half-written one is rebuilt."""
    path = os.path.join(cache_root, name)
    if not os.path.exists(os.path.join(path, "meta.json")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        meta = build(path)
        with open(os.path.join(path, "meta.tmp"), "w") as f:
            json.dump(meta, f, sort_keys=True)
        os.replace(os.path.join(path, "meta.tmp"), os.path.join(path, "meta.json"))
    return path


def load_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# capstone staging


def _coord(rng: np.random.Generator, centers: np.ndarray) -> np.ndarray:
    """Two-decimal coordinates within 0.45 of integer centres, never on
    a .50 tie, so Java HALF_UP and C printf round them the same way."""
    hundredths = rng.integers(-45, 46, size=len(centers))
    return np.round(centers + hundredths / 100.0, 2)


def _build_capstone(path: str, seed: int, n_rows: int) -> dict:
    rng = _rng(seed, "capstone")
    n_base = int(n_rows * (1 - IMM_DUP_SHARE))
    ports = _codes(rng, 314, 3)
    airlines = _codes(rng, 622, 2)
    port_idx = _zipf_pick(rng, len(ports), n_base)
    air_idx = _zipf_pick(rng, len(airlines), n_base)
    state_w = 1.0 / np.arange(1, len(VALID_US_STATES) + 1) ** 0.8
    state = np.array(VALID_US_STATES, dtype=object)[
        rng.choice(len(VALID_US_STATES), n_base, p=state_w / state_w.sum())
    ]
    u = rng.random(n_base)
    state[u < IMM_INVALID_STATE_SHARE] = rng.choice(["99", "XX", "ZZ"], n_base)[
        u < IMM_INVALID_STATE_SHARE
    ]
    null_state = (u >= IMM_INVALID_STATE_SHARE) & (
        u < IMM_INVALID_STATE_SHARE + IMM_NULL_STATE_SHARE)
    state[null_state] = None
    arrdate = rng.integers(20545, 20606, n_base).astype(float)  # 2016-04-01 .. 2016-05-31
    arr_null = rng.random(n_base) < 0.005
    depdate = arrdate + rng.integers(1, 30, n_base)
    dep_null = rng.random(n_base) < 0.10
    age = rng.integers(6, 90, n_base).astype(float)
    gender = np.array(["M", "F"], dtype=object)[rng.integers(0, 2, n_base)]
    gender[rng.random(n_base) < IMM_NULL_GENDER_SHARE] = None
    airline = np.array(airlines, dtype=object)[air_idx]
    airline[rng.random(n_base) < 0.02] = None
    port = np.array(ports, dtype=object)[port_idx]
    port[rng.random(n_base) < 0.01] = None
    visa = rng.choice([1.0, 2.0, 3.0], n_base, p=[0.15, 0.7, 0.15])
    month = np.where(arrdate < 20575, 4.0, 5.0)

    def nullable_str(values, null_share):
        arr = np.array(values, dtype=object)
        arr[rng.random(len(arr)) < null_share] = None
        return arr

    cols = {
        "cicid": 1689141.0 + np.arange(n_base, dtype=float),
        "i94yr": np.full(n_base, 2016.0),
        "i94mon": month,
        "i94cit": rng.integers(100, 700, n_base).astype(float),
        "i94res": rng.integers(100, 700, n_base).astype(float),
        "i94port": port,
        "arrdate": np.where(arr_null, np.nan, arrdate),
        "i94mode": rng.integers(1, 5, n_base).astype(float),
        "i94addr": state,
        "depdate": np.where(dep_null | arr_null, np.nan, depdate),
        "i94bir": age,
        "i94visa": visa,
        "count": np.ones(n_base),
        "dtadfile": np.array([f"201604{d:02d}" for d in rng.integers(1, 29, n_base)], dtype=object),
        "visapost": nullable_str(rng.choice(["SPL", "BGT", "MEX"], n_base), 0.9),
        "occup": nullable_str(rng.choice(["STU", "ENG"], n_base), 0.98),
        "entdepa": nullable_str(rng.choice(["G", "T", "O"], n_base), 0.2),
        "entdepd": nullable_str(rng.choice(["O", "K"], n_base), 0.3),
        "entdepu": nullable_str(rng.choice(["U", "Y"], n_base), 0.99),
        "matflag": nullable_str(rng.choice(["M"], n_base), 0.3),
        "biryear": 2016.0 - age,
        "dtaddto": np.array([f"10{d:02d}2016" for d in rng.integers(1, 29, n_base)], dtype=object),
        "gender": gender,
        "insnum": nullable_str(rng.integers(1000, 99999, n_base).astype(str), 0.95),
        "airline": airline,
        "admnum": rng.integers(10**10, 10**11, n_base).astype(float),
        "fltno": np.array([f"{x:05d}" for x in rng.integers(1, 99999, n_base)], dtype=object),
        "visatype": rng.choice(["WT", "B2", "WB", "B1", "F1"], n_base),
    }
    # exact full-row duplicates of random earlier rows
    dup_src = rng.integers(0, n_base, n_rows - n_base)
    for k, v in cols.items():
        cols[k] = np.concatenate([v, v[dup_src]])
    table = pa.table(
        {
            k: (pa.array(v, type=pa.float64(), from_pandas=True) if v.dtype.kind == "f"
                else pa.array(list(v), type=pa.string()))
            for k, v in cols.items()
        }
    )
    imm_dir = os.path.join(path, "i94_parquet")
    os.makedirs(imm_dir)
    mon = table.column("i94mon").to_numpy()
    for m in (4, 5):  # monthly files, as the reference reads them
        pq.write_table(table.filter(pa.array(mon == m)),
                       os.path.join(imm_dir, f"i94_{m:02d}.parquet"))

    # Coordinate sites shared by the temperature cities and the airports,
    # so the rounded-coordinate join matches; each site has a dominant
    # state and a runner-up, so the argmax has work to do.
    n_sites = 150
    site_lat = rng.integers(25, 49, n_sites).astype(float)
    site_lon = rng.integers(67, 124, n_sites).astype(float)
    site_state = rng.choice(VALID_US_STATES, n_sites)
    site_state2 = rng.choice(VALID_US_STATES, n_sites)

    # temperature: every city x day of Apr-May, plus foreign rows
    city_site = rng.integers(0, n_sites, 200)
    city_lat = _coord(rng, site_lat[city_site])
    city_lon = _coord(rng, site_lon[city_site])
    days = np.arange(np.datetime64("2013-04-01"), np.datetime64("2013-06-01"))
    lines = ["dt,AverageTemperature,AverageTemperatureUncertainty,City,Country,Latitude,Longitude"]
    temp = np.round(rng.normal(18.0, 7.0, (len(city_site), len(days))), 3)
    empty = rng.random(temp.shape) < TEMP_NULL_SHARE
    for c in range(len(city_site)):
        foreign = c % 10 == 9
        country = "Canada" if foreign else "United States"
        lat_s, lon_s = f"{city_lat[c]:.2f}N", f"{city_lon[c]:.2f}W"
        for d, day in enumerate(days):
            t = "" if empty[c, d] else f"{temp[c, d]:.3f}"
            lines.append(f"{day},{t},0.3,City{c},{country},{lat_s},{lon_s}")
    with open(os.path.join(path, "temperature.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")

    # airports: ~25 per site, dominant state most, plus foreign rows and
    # malformed regions that normalize to 'other'
    n_air = 4000
    a_site = rng.integers(0, n_sites, n_air)
    pick = rng.random(n_air)
    a_state = np.where(pick < 0.65, site_state[a_site], site_state2[a_site]).astype(object)
    region = np.array([f"US-{s}" for s in a_state], dtype=object)
    region[pick > 0.97] = "US-U-A"
    country = np.where(rng.random(n_air) < 0.15, "CA", "US")
    a_lat = _coord(rng, site_lat[a_site])
    a_lon = _coord(rng, site_lon[a_site])
    lines = ["ident,type,name,elevation_ft,continent,iso_country,iso_region,"
             "municipality,gps_code,iata_code,local_code,coordinates"]
    for i in range(n_air):
        reg = "CA-ON" if country[i] == "CA" else region[i]
        lines.append(
            f'A{i:05d},small_airport,Field {i},{100 + i % 900},NA,{country[i]},{reg},'
            f'Town{i % 977},A{i:05d},,,"-{a_lon[i]:.2f}, {a_lat[i]:.2f}"'
        )
    with open(os.path.join(path, "airport_codes.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    meta = {"raw_rows": n_rows, "planted_dup_rows": n_rows - n_base}
    meta.update(capstone_expected(path))
    meta["input_bytes"] = _dir_bytes(path)
    return meta


def capstone_expected(path: str) -> dict:
    """Expected star-schema figures, recomputed by DuckDB from the raw
    staging files (the FIXTURES.md section 4 invariants)."""
    valid = ", ".join(f"'{s}'" for s in VALID_US_STATES)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"""
        CREATE VIEW imm AS
        SELECT *, CASE WHEN i94addr IN ({valid}) THEN i94addr ELSE 'other' END AS state
        FROM (SELECT DISTINCT * FROM read_parquet('{path}/i94_parquet/*.parquet'))
    """)
    con.execute("CREATE VIEW fin AS SELECT * FROM imm WHERE i94visa = 2")
    n_final, n_state, n_time, n_port, n_air = con.execute("""
        SELECT count(*), count(DISTINCT state),
               (SELECT count(*) FROM (SELECT DISTINCT arrdate FROM fin)),
               (SELECT count(*) FROM (SELECT DISTINCT i94port FROM fin)),
               (SELECT count(*) FROM (SELECT DISTINCT airline FROM fin))
        FROM fin
    """).fetchone()
    n_temp = con.execute(fact_temp_sql(path, valid)).fetchone()[0]
    return {
        "n_final": n_final, "n_states": n_state, "n_dates": n_time,
        "n_ports": n_port, "n_airlines": n_air, "n_fact_temp": n_temp,
    }


def fact_temp_sql(path: str, valid: str) -> str:
    """Row count of fact_temp: per-coordinate average temperature joined
    to the coordinate's dominant state (count desc, state asc), then
    averaged per (dayofmonth, month, state)."""
    return f"""
    WITH t AS (
        SELECT CAST(dt AS DATE) AS d, CAST(AverageTemperature AS DOUBLE) AS temp,
               printf('%.0f', CAST(regexp_extract(Latitude, '\\d+\\.\\d+') AS DOUBLE)) AS lat,
               printf('%.0f', CAST(regexp_extract(Longitude, '\\d+\\.\\d+') AS DOUBLE)) AS lon
        FROM read_csv('{path}/temperature.csv', header = true, all_varchar = true)
        WHERE Country = 'United States' AND nullif(AverageTemperature, '') IS NOT NULL
    ),
    tc AS (
        SELECT lat, lon, month(d) AS m, day(d) AS dom, avg(temp) AS avg_t
        FROM t GROUP BY ALL
    ),
    a AS (
        SELECT printf('%.0f', abs(CAST(split_part(coordinates, ',', 2) AS DOUBLE))) AS lat,
               printf('%.0f', abs(CAST(split_part(coordinates, ',', 1) AS DOUBLE))) AS lon,
               CASE WHEN split_part(iso_region, '-', 2) IN ({valid})
                         AND len(string_split(iso_region, '-')) >= 2
                    THEN split_part(iso_region, '-', 2) ELSE 'other' END AS state
        FROM read_csv('{path}/airport_codes.csv', header = true, all_varchar = true)
        WHERE iso_country = 'US'
    ),
    dom AS (
        SELECT lat, lon, state FROM (
            SELECT lat, lon, state, count(*) AS num FROM a GROUP BY ALL
        ) QUALIFY row_number() OVER (PARTITION BY lat, lon ORDER BY num DESC, state ASC) = 1
    )
    SELECT count(*) FROM (
        SELECT dom.state, tc.m, tc.dom FROM tc JOIN dom USING (lat, lon) GROUP BY ALL
    )
    """


def capstone(cache_root: str, seed: int, n_rows: int) -> str:
    return _cached(cache_root, f"capstone-s{seed}-n{n_rows}",
                   lambda p: _build_capstone(p, seed, n_rows))


# ---------------------------------------------------------------------------
# corpus

#: Function words mixed into the pseudo-word text so documents pass the
#: Gopher stop-word rule; the first eight are the Gopher list.
FUNCTION_WORDS = [
    "the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "is",
    "it", "for", "on", "as", "at", "by", "this", "from", "or", "an", "was",
]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
    freq = np.array([12.7, 9.1, 8.2, 7.5, 7.0, 6.7, 6.3, 6.1, 6.0, 4.3, 4.0, 2.8, 2.8,
                     2.4, 2.4, 2.2, 2.0, 2.0, 1.9, 1.5, 1.0, 0.8, 0.15, 0.15, 0.1, 0.07])
    freq = freq / freq.sum()
    words: set[str] = set(FUNCTION_WORDS)
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choice(letters, 3 + rng.geometric(0.3), p=freq))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _document(rng: np.random.Generator, vocab: np.ndarray, n_words: int) -> list[str]:
    words = vocab[_zipf_pick(rng, len(vocab), n_words)].tolist()
    fn = rng.random(n_words) < 0.3
    fw = rng.integers(0, len(FUNCTION_WORDS), n_words)
    return [FUNCTION_WORDS[fw[i]] if fn[i] else w for i, w in enumerate(words)]


def _render(rng: np.random.Generator, words: list[str]) -> str:
    """Sentences of 8-20 words, capitalized, full stops, paragraph breaks."""
    out, i, sentences = [], 0, 0
    while i < len(words):
        k = int(rng.integers(8, 21))
        sent = words[i:i + k]
        out.append(" ".join([sent[0].capitalize()] + sent[1:]) + ".")
        sentences += 1
        out.append("\n\n" if sentences % 5 == 0 else " ")
        i += k
    return "".join(out).strip()


def _build_corpus(path: str, seed: int, n_docs: int) -> dict:
    rng = _rng(seed, "corpus")
    vocab = np.array(_vocab(rng, 20000), dtype=object)
    n_exact = int(n_docs * CORPUS_EXACT_SHARE)
    n_near = int(n_docs * CORPUS_NEAR_SHARE)
    n_short = int(n_docs * CORPUS_SHORT_SHARE)
    n_base = n_docs - n_exact - n_near - n_short
    texts: list[str] = []
    words_of: list[list[str]] = []
    for _ in range(n_base):
        w = _document(rng, vocab, int(rng.integers(80, 250)))
        words_of.append(w)
        texts.append(_render(np.random.default_rng(len(texts) + seed * 7919), w))
    group = list(range(n_base))  # planted duplicate group of every document
    for _ in range(n_short):
        w = _document(rng, vocab, int(rng.integers(15, 45)))
        texts.append(_render(rng, w))
        group.append(len(group))
    # near-duplicate clusters: 1-3 variants per base, each replacing
    # CORPUS_EDIT_FRAC of the base's words independently
    made = 0
    while made < n_near:
        b = int(rng.integers(0, n_base))
        for _ in range(min(int(rng.integers(1, 4)), n_near - made)):
            w = list(words_of[b])
            k = max(1, int(len(w) * CORPUS_EDIT_FRAC))
            for j in rng.choice(len(w), k, replace=False):
                w[j] = vocab[_zipf_pick(rng, len(vocab), 1)[0]]
            texts.append(_render(np.random.default_rng(b + seed * 7919), w))
            group.append(b)
            made += 1
    # exact copies: verbatim, or differing only in case / whitespace /
    # punctuation (collapsed by the normalized fingerprint)
    for i in range(n_exact):
        b = int(rng.integers(0, n_base))
        t = texts[b]
        if i % 2:
            t = t.upper().replace(".", " .").replace("\n\n", "\n")
        texts.append(t)
        group.append(b)
    order = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[order] = np.arange(len(texts))  # doc_id of original index i
    src = rng.choice(["crawl", "books", "forum", "news"], len(texts))
    inv = np.argsort(doc_id)
    table = pa.table({
        "doc_id": pa.array(doc_id[inv], pa.int64()),
        "text": pa.array([texts[i] for i in inv]),
        "source": pa.array(src[inv]),
    })
    os.makedirs(os.path.join(path, "docs"))
    half = len(texts) // 2
    pq.write_table(table.slice(0, half), os.path.join(path, "docs", "part-0.parquet"))
    pq.write_table(table.slice(half), os.path.join(path, "docs", "part-1.parquet"))
    # planted group (doc_id of the base document) of every doc_id
    truth = {"group": [int(doc_id[group[i]]) for i in inv]}
    with open(os.path.join(path, "truth.json"), "w") as f:
        json.dump(truth, f)
    return {
        "docs": len(texts), "planted_exact": n_exact, "planted_near": n_near,
        "planted_short": n_short, "input_bytes": _dir_bytes(os.path.join(path, "docs")),
    }


def corpus(cache_root: str, seed: int, n_docs: int) -> str:
    return _cached(cache_root, f"corpus-s{seed}-n{n_docs}",
                   lambda p: _build_corpus(p, seed, n_docs))


def load_truth(path: str) -> dict:
    with open(os.path.join(path, "truth.json")) as f:
        return json.load(f)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.endswith(".json"))
    return total
