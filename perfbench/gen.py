"""Seeded input generation: the engine's ten tables and the store landing zone.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. The tables follow the schemas and value domains of
the engine's test data (a TPC-H-like star schema plus `events`,
`documents` and `embeddings`), at the 0.01 scale factor's row counts.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# row counts at scale factor 0.01
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
USERS = 150

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

DAY_US = 86400 * 1000000
EPOCH = np.datetime64("1970-01-01", "D")


def _rng(seed, salt):
    """An independent stream per (seed, purpose)."""
    return np.random.default_rng([int(seed) & 0xFFFFFFFF, int(seed) >> 32, salt])


def _pick(r, values, n):
    return pa.array([values[i] for i in r.integers(0, len(values), n)], pa.string())


def _money(r, lo, span, n):
    return np.round(lo + r.random(n) * span, 2)


def _days_us(start, r, span_days, n):
    base = (np.datetime64(start, "D") - EPOCH).astype(np.int64) * DAY_US
    return pa.array(base + r.integers(0, span_days, n).astype(np.int64) * DAY_US,
                    pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tables(seed):
    """The ten tables as pyarrow Tables, keyed by name."""
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = ROWS["customer"]
    r = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 10999.8, n)),
        "c_mktsegment": _pick(r, SEGMENTS, n)})

    n = ROWS["supplier"]
    r = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 10999.8, n))})

    n = ROWS["part"]
    r = _rng(seed, 3)
    adj = r.integers(0, len(ADJS), n)
    noun = r.integers(0, len(NOUNS), n)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{ADJS[a]} {NOUNS[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n)]),
        "p_type": _pick(r, TYPES, n),
        "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2))})

    n = ROWS["orders"]
    r = _rng(seed, 4)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, ROWS["customer"], n).astype(np.int64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(r, 1000.0, 499000.0, n)),
        "o_orderdate": _days_us("1995-01-01", r, 2404, n),
        "o_orderpriority": _pick(r, PRIORITIES, n)})

    n = ROWS["lineitem"]
    r = _rng(seed, 5)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, ROWS["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, ROWS["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, ROWS["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 104100.0, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _days_us("1995-01-02", r, 2498, n)})

    n = ROWS["events"]
    r = _rng(seed, 6)
    start = (np.datetime64("2024-01-01", "D") - EPOCH).astype(np.int64) * DAY_US
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + np.sort(r.integers(0, 30 * DAY_US, n)), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, USERS, n).astype(np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": pa.array(_money(r, 0.01, 490.01, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})

    n = ROWS["documents"]
    r = _rng(seed, 7)
    texts = []
    for i in range(n):
        if i % 20 == 19:  # a near-duplicate of its predecessor
            texts.append(texts[-1] + " dup dup dup")
        else:
            words = r.integers(0, len(VOCAB), int(r.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n),
        "source": pa.array([f"src{s}" for s in r.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    n = ROWS["embeddings"]
    r = _rng(seed, 8)
    v = r.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n).astype(np.int32))})
    return out


def write_tables(seed, data_dir):
    os.makedirs(data_dir, exist_ok=True)
    for name, t in tables(seed).items():
        _write(t, os.path.join(data_dir, f"{name}.parquet"))


# ---- store landing zone -------------------------------------------------

GENRES = ["drama", "comedy", "action", "thriller", "animation", "horror"]
FORMATS = ["IMAX", "4DX", "ScreenX", "Dolby"]
GOODS = ["poster", "art card", "badge", "ticket book", "film mark"]
STATUSES = ["in stock", "low", "sold out"]
THEATERS = 45


def _movie(i):
    return f"Film M{i:04d}"


def landing(seed, root, days, polls_per_day, events_per_day=4, start="2025-03-01"):
    """Write the landing zone for `days` days under `root`; returns the plan
    entries the harness replays, one per day.

    Per day: a KOBIS daily box-office page, a KOBIS movie-list page, a batch
    of goods events, and `polls_per_day` stock polls covering every theater
    of every active event. Movies enter the catalog before they chart, so
    every charted or evented title is a catalog name.
    """
    r = _rng(seed, 20)
    os.makedirs(root, exist_ok=True)
    for sub in ("daily", "movies", "goods", "polls"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    day0 = np.datetime64(start, "D")
    n_movies = 12 + 3 * days
    open_offset = r.integers(-40, 5, n_movies)

    aliases = [{"raw": f"{g} set", "canonical": g} for g in GOODS]
    with open(os.path.join(root, "aliases.json"), "w") as f:
        f.writelines(json.dumps(a) + "\n" for a in aliases)
    # goods-key lookups for some (movie, goods) pairs; the date keys never
    # match a goods event, so only the first lookup ever applies
    movie_events = []
    for i in range(0, n_movies, 2):
        g = GOODS[int(r.integers(0, len(GOODS)))]
        movie_events.append({"movie_title": _movie(i), "goods_name": g,
                             "start_date": "1900-01-01", "end_date": "1900-01-31",
                             "event_url": f"https://example.org/me/{i}",
                             "image_url": f"https://example.org/img/{i}.png"})
    with open(os.path.join(root, "movie_events.json"), "w") as f:
        f.writelines(json.dumps(m) + "\n" for m in movie_events)

    plan = []
    events = {}  # event_id -> movie index
    poll_index = 0
    scraped = (day0 - EPOCH).astype(np.int64) * DAY_US + 9 * 3600 * 1000000
    for d in range(days):
        date = day0 + d
        ds = str(date)
        tag = ds.replace("-", "")
        catalog = list(range(min(n_movies, 12 + 3 * (d + 1))))

        chart = r.permutation(catalog)[:10]
        rows = []
        for rank, m in enumerate(chart, start=1):
            open_dt = str(date + int(open_offset[m]))
            if r.random() < 0.1:
                open_dt = "not-a-date"  # dropped by the coercing parse
            audi = int(r.integers(1000, 400000))
            rows.append({
                "rnum": str(rank), "rank": str(rank),
                "rankInten": str(int(r.integers(-3, 4))),
                "rankOldAndNew": "NEW" if r.random() < 0.2 else "OLD",
                "movieCd": f"M{m:04d}", "movieNm": _movie(m), "openDt": open_dt,
                "salesAmt": str(audi * 11000), "salesShare": f"{r.random() * 30:.1f}",
                "salesInten": str(int(r.integers(-50000, 50000))),
                "salesChange": f"{r.random() * 20 - 10:.1f}",
                "salesAcc": str(audi * 11000 * 3),
                "audiCnt": str(audi), "audiInten": str(int(r.integers(-5000, 5000))),
                "audiChange": "" if r.random() < 0.1 else str(int(r.integers(-50, 50))),
                "audiAcc": str(audi * 3), "scrnCnt": str(int(r.integers(100, 2000))),
                "showCnt": str(int(r.integers(500, 9000)))})
        page = {"boxOfficeResult": {"boxofficeType": "daily", "showRange": f"{tag}~{tag}",
                                    "dailyBoxOfficeList": rows}}
        with open(os.path.join(root, "daily", f"{tag}.json"), "w") as f:
            json.dump(page, f)

        listed = [m for m in catalog if m >= len(catalog) - 3 or r.random() < 0.25]
        movies = []
        for m in listed:
            movies.append({
                "movieCd": f"M{m:04d}", "movieNm": _movie(m),
                "movieNmEn": "" if r.random() < 0.05 else f"Film {m} rev{d}",
                "prdtYear": "2025",
                "openDt": str(date + int(open_offset[m])).replace("-", ""),
                "typeNm": "feature", "prdtStatNm": "released", "nationAlt": "KR",
                "genreAlt": GENRES[m % len(GENRES)], "repNationNm": "KR",
                "repGenreNm": GENRES[(m + d) % len(GENRES)],
                "directors": [{"peopleNm": f"Director {m}"}] if r.random() < 0.95 else [],
                "companys": [{"companyCd": f"C{m % 7}", "companyNm": f"Studio {m % 7}"}]})
        page = {"movieListResult": {"totCnt": str(len(movies)), "movieList": movies}}
        with open(os.path.join(root, "movies", f"{tag}.json"), "w") as f:
            json.dump(page, f)

        # goods events: a few new ones per day plus updates of live ones
        for k in range(events_per_day if d == 0 else 2):
            events[f"E{len(events):04d}"] = int(r.choice(chart))
        live = sorted(events)[-events_per_day:]
        with open(os.path.join(root, "goods", f"{tag}.json"), "w") as f:
            for e in live:
                m = events[e]
                g = GOODS[int(r.integers(0, len(GOODS)))]
                f.write(json.dumps({
                    "event_id": e,
                    "movie_title": f"{_movie(m)} <{FORMATS[int(r.integers(0, len(FORMATS)))]}>",
                    "goods_name": g + " set" if r.random() < 0.5 else g,
                    "start_date": ds, "end_date": str(date + 14),
                    "event_url": None if r.random() < 0.3 else f"https://example.org/ev/{e}/{d}",
                    "image_url": None if r.random() < 0.3 else f"https://example.org/ev/{e}.png",
                }) + "\n")

        polls = []
        for p in range(polls_per_day):
            ts = int(scraped + d * DAY_US + p * 600 * 1000000)
            rows = {"event_id": [], "theater_name": [], "scraped_at": [],
                    "status": [], "quantity": []}
            for e in live:
                for t in range(THEATERS):
                    q = int(r.integers(0, 40))
                    rows["event_id"].append(e)
                    rows["theater_name"].append(f"Theater {t:02d}")
                    rows["scraped_at"].append(ts)
                    rows["status"].append(STATUSES[0] if q > 10 else STATUSES[1] if q else STATUSES[2])
                    rows["quantity"].append(float(q))
            name = f"poll_{poll_index:04d}.parquet"
            _write(pa.table({
                "event_id": pa.array(rows["event_id"]),
                "theater_name": pa.array(rows["theater_name"]),
                "scraped_at": pa.array(rows["scraped_at"], pa.int64()),
                "status": pa.array(rows["status"]),
                "quantity": pa.array(rows["quantity"], pa.float64())}),
                os.path.join(root, "polls", name))
            polls.append({"index": poll_index, "file": f"polls/{name}",
                          "scraped_at_us": ts, "read_events": live})
            poll_index += 1
        plan.append({"date": ds, "daily": f"daily/{tag}.json",
                     "movies": f"movies/{tag}.json", "goods": f"goods/{tag}.json",
                     "period_start": str(date - 6), "polls": polls})
    return plan
