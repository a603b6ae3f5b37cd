"""The workloads: their seeded plans, their oracles and their metrics.

Each workload object provides
  - `prepare(seed, seconds, work, trace)`: generate inputs, return the
    plan the harness runs (set-up part "generate");
  - `oracles(plan, oracle_sql, work)`: expected results per result key, as
    (columns, rows, ordered, column subset) (set-up part "oracle");
  - `metrics(ops, summary)`: the end-to-end metrics of a run;
  - `landed_bytes(work)`: input bytes the store workload lands.
"""
import contextlib
import io
import json
import os
import random
import sys

import duckdb

import compare
import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# dashboard-shaped faces the dashboard and agent wait on, from every
# family of them: top-k and distinct-list rollups (the dashboard's period
# page, dashboard.py:249/256/291), latest-per-key and ranking windows, the
# fuzzy title join, JSON props, upserts, agent SQL and filters. Each runs
# once a run; the rest of a run's requests are fresh agent SELECTs. The
# reference gives no ratio of dashboard views to agent questions, so the
# mix is a choice, not measured traffic.
DASHBOARD_FACES = [
    "q_a3_topk_customers", "q_a4_top_days", "q_a6_genre_rollup",
    "q_w1_latest_per_key", "q_w2_daily_rank", "q_j6_fuzzy_title", "q_f2_json_props",
    "q_u1_upsert", "q_sql_agent_topk", "q_p6_multi_filter",
]


def duck(data_dir):
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def timed_ops(ops, kinds):
    return [o for o in ops if o.get("phase") == "timed" and o["kind"] in kinds]


def op_metrics(ops, kinds, summary):
    """The end-to-end metrics every workload reports, over its timed calls."""
    lat = [o["dur_ms"] for o in timed_ops(ops, kinds)]
    return {"op_p50_ms": stats.median(lat),
            "op_p75_ms": stats.percentile(lat, 75),
            "wall_s": summary["timed_wall_s"]}


class AgentSql:
    name = "agent_sql"
    KINDS = ("sql", "face")
    # fresh SELECTs of set-up's warm round (README, "Warm-up")
    WARM_SQL = 14

    @staticmethod
    def n_requests(seconds):
        # 4.8 per second of --seconds, at least 48, so that twelve lie
        # beyond p75; 48 take about 18 s on 4 cores
        return max(48, round(4.8 * seconds))

    @staticmethod
    def fresh_sql(sqlfuzz, con, seed, n):
        """n SELECTs from n templates spread evenly over the fuzzer's whole
        grammar, one accepted draw each: every seed gets the same template
        mix with fresh parameters, so run-to-run spread reflects the
        engine, not which templates a seed happened to draw."""
        templates = sqlfuzz.all_templates(sqlfuzz.Gen(random.Random(seed)))
        out = []
        with contextlib.redirect_stderr(io.StringIO()):
            for i in range(n):
                t = i * len(templates) // n
                for k in range(len(templates)):
                    try:
                        out.append(sqlfuzz.accept_loop(
                            con, [templates[(t + k) % len(templates)]], 1)[0][0])
                        break
                    except SystemExit:
                        continue  # this template starves on this data; take the next
        return out

    def stream(self, sqlfuzz, con, seed, n_sql, tag, faces=DASHBOARD_FACES):
        """`faces` and n_sql fresh SELECTs, shuffled."""
        requests = [{"kind": "face", "name": f} for f in faces]
        requests += [{"kind": "sql", "name": "agent_sql", "sql": q}
                     for q in self.fresh_sql(sqlfuzz, con, seed, n_sql)]
        random.Random(seed).shuffle(requests)
        for i, r in enumerate(requests):
            r["id"] = f"{tag}r{i:03d}"
        return requests

    def prepare(self, seed, seconds, work, trace):
        data = os.path.join(work, "data")
        gen.write_tables(seed, data)
        sys.path.insert(0, os.path.join(REPO, "tools"))
        import sqlfuzz
        con = duck(data)
        n_sql = self.n_requests(seconds) - len(DASHBOARD_FACES)
        # a traced run times three sections, each on its own fresh SELECTs
        streams = [{"requests": self.stream(sqlfuzz, con, seed + 1000003 * k, n_sql, f"s{k}")}
                   for k in range(3 if trace else 1)]
        # set-up calls every face once, then runs the warm round: all the
        # warm-up the run budget leaves room for
        warm = self.stream(sqlfuzz, con, -seed - 1, self.WARM_SQL, "w", faces=[])
        return {"data_dir": "data", "faces": DASHBOARD_FACES, "streams": streams,
                "warm": warm}

    def landed_bytes(self, work):
        return 0

    def oracles(self, plan, oracle_sql, work):
        con = duck(os.path.join(work, "data"))
        exp = {f: compare.duckdb_result(con, oracle_sql[f]) + (True, None)
               for f in plan["faces"]}
        for r in (r for st in plan["streams"] for r in st["requests"]):
            if r["kind"] == "sql":
                exp[r["id"]] = compare.duckdb_result(con, r["sql"]) + (True, None)
        return exp

    def metrics(self, ops, summary):
        return op_metrics(ops, self.KINDS, summary)


class StoreIngest:
    name = "store_ingest"
    # the calls a dashboard user waits on; the commits are the ingest jobs,
    # measured together with them by wall_s
    KINDS = ("read",)
    # Sizing choices, not measured traffic. The reference polls about 45
    # theaters per active event every 10 minutes, but gives no count of
    # active events or dashboard readers. A poll here reads the current
    # stock of every live event (the drill-down of dashboard.py:101-119)
    # plus the period top-10 and top-3 days (dashboard.py:249/256); 18
    # events and two polls give 40 reads, ten of them beyond p75.
    LIVE_EVENTS = 18

    @staticmethod
    def n_polls(seconds):
        # one day; each poll is about eight seconds and twenty
        # read-after-write queries
        return max(2, round(seconds / 5))

    def prepare(self, seed, seconds, work, trace):
        landing = os.path.join(work, "landing")
        plan_days = gen.landing(seed, landing, 1, self.n_polls(seconds), self.LIVE_EVENTS)
        return {"landing": "landing", "faces": [], "days": plan_days}

    def landed_bytes(self, work):
        root = os.path.join(work, "landing")
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(root) for f in fs)

    def oracles(self, plan, oracle_sql, work):
        land = os.path.join(work, "landing")
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        days = plan["days"]
        daily = ", ".join(f"'{land}/{d['daily']}'" for d in days)
        # every daily page row, typed as the KOBIS source types it
        con.execute(f"""
            CREATE VIEW daily AS
            WITH pages AS (
              SELECT CAST(regexp_extract(filename, '(\\d{{8}})\\.json$', 1) AS VARCHAR) AS tag,
                     unnest(boxOfficeResult.dailyBoxOfficeList) AS r
              FROM read_json([{daily}], filename = true, format = 'auto',
                             maximum_object_size = 100000000))
            SELECT strptime(tag, '%Y%m%d')::DATE AS target_dt,
                   TRY_CAST(r.openDt AS DATE) AS open_dt,
                   r.movieCd AS movie_cd, r.movieNm AS movie_nm,
                   r.rankOldAndNew AS rank_old_and_new,
                   {", ".join(f"COALESCE(TRY_CAST(r.{k} AS BIGINT), 0) AS {v}" for k, v in [
                       ("rnum", "rnum"), ("rank", "rank"), ("rankInten", "rank_inten"),
                       ("audiCnt", "audi_cnt"), ("audiInten", "audi_inten"),
                       ("audiChange", "audi_change"), ("audiAcc", "audi_acc"),
                       ("scrnCnt", "scrn_cnt"), ("showCnt", "show_cnt"),
                       ("salesAmt", "sales_amt"), ("salesInten", "sales_inten"),
                       ("salesAcc", "sales_acc")])},
                   COALESCE(TRY_CAST(r.salesShare AS DOUBLE), 0) AS sales_share,
                   COALESCE(TRY_CAST(r.salesChange AS DOUBLE), 0) AS sales_change
            FROM pages""")
        con.execute("""CREATE VIEW boxoffice AS
            SELECT *, CAST(target_dt - open_dt AS INTEGER) AS elapsed_dt
            FROM daily WHERE open_dt IS NOT NULL""")
        polls = [p for d in days for p in d["polls"]]
        files = ", ".join(f"'{land}/{p['file']}'" for p in polls)
        con.execute(f"CREATE VIEW polls AS SELECT * FROM read_parquet([{files}])")
        exp = {}
        for di, d in enumerate(days):
            for p in d["polls"]:
                pi = p["index"]
                for e in p["read_events"]:
                    exp[f"read_{pi}_stock_{e}"] = compare.duckdb_result(con, f"""
                        SELECT event_id, theater_name, status, quantity,
                               scraped_at AS scraped_at_us
                        FROM polls WHERE scraped_at <= {p['scraped_at_us']} AND event_id = '{e}'
                        QUALIFY row_number() OVER (PARTITION BY event_id, theater_name
                                                   ORDER BY scraped_at DESC) = 1""") + (False, None)
                exp[f"read_{pi}_top"] = compare.duckdb_result(con, f"""
                    SELECT movie_nm, CAST(SUM(audi_cnt) AS DECIMAL(38, 6)) AS total_audience
                    FROM boxoffice
                    WHERE target_dt BETWEEN DATE '{d['period_start']}' AND DATE '{d['date']}'
                    GROUP BY movie_nm ORDER BY total_audience DESC, movie_nm LIMIT 10""") + (False, None)
                exp[f"read_{pi}_days"] = compare.duckdb_result(con, f"""
                    SELECT target_dt, CAST(SUM(audi_cnt) AS DECIMAL(38, 6)) AS total_audience
                    FROM boxoffice
                    WHERE target_dt BETWEEN DATE '{d['period_start']}' AND DATE '{d['date']}'
                    GROUP BY target_dt ORDER BY total_audience DESC, target_dt LIMIT 3""") + (False, None)
        cols = ("movie_cd, movie_nm, open_dt, target_dt, elapsed_dt, rank_old_and_new, rnum, rank, "
                "rank_inten, audi_cnt, audi_inten, audi_change, audi_acc, scrn_cnt, show_cnt, "
                "sales_amt, sales_inten, sales_acc, sales_share, sales_change")
        exp["final_boxoffice"] = compare.duckdb_result(
            con, f"SELECT {cols} FROM boxoffice") + (False, None)
        exp["final_goods_stock"] = compare.duckdb_result(con, """
            SELECT event_id, theater_name, status, quantity, scraped_at AS scraped_at_us
            FROM polls""") + (False, None)
        exp["final_current_stock"] = compare.duckdb_result(con, """
            SELECT event_id, theater_name, scraped_at, status, quantity FROM polls
            QUALIFY row_number() OVER (PARTITION BY event_id, theater_name
                                       ORDER BY scraped_at DESC) = 1""") + (False, None)
        exp["final_rollup"] = compare.duckdb_result(con, """
            SELECT event_id, COUNT(*) AS n, SUM(quantity) AS total,
                   MIN(quantity) AS min, MAX(quantity) AS max
            FROM polls GROUP BY event_id""") + (False, ["event_id", "n", "total", "min", "max"])
        exp["final_movie"] = self._movies(land, days) + (False, None)
        exp["final_goods_event"] = self._goods(con, land, days) + (False, None)
        return exp

    @staticmethod
    def _movies(land, days):
        """The movie dimension: per movie_cd the row of the last page listing
        it, after the KOBIS movie-list filter and JSON encodings."""
        latest = {}
        for d in days:
            with open(os.path.join(land, d["movies"])) as f:
                for m in json.load(f)["movieListResult"]["movieList"]:
                    names = [x["peopleNm"] for x in m["directors"] if x.get("peopleNm")]
                    if m["repGenreNm"] == "성인물(에로)" or not m["movieNmEn"].strip() or not names:
                        continue
                    od = m["openDt"]
                    latest[m["movieCd"]] = {
                        "movie_cd": m["movieCd"], "movie_nm": m["movieNm"],
                        "movie_nm_en": m["movieNmEn"], "prdt_year": m["prdtYear"],
                        "open_dt": f"{od[:4]}-{od[4:6]}-{od[6:]}", "type_nm": m["typeNm"],
                        "prdt_stat_nm": m["prdtStatNm"], "nation_alt": m["nationAlt"],
                        "genre_alt": m["genreAlt"], "rep_nation_nm": m["repNationNm"],
                        "rep_genre_nm": m["repGenreNm"],
                        "directors": json.dumps(names, separators=(",", ":")),
                        "companys": json.dumps(
                            [{"company_cd": c["companyCd"], "company_nm": c["companyNm"]}
                             for c in m["companys"]], separators=(",", ":"))}
        rows = list(latest.values())
        cols = sorted(rows[0]) if rows else []
        return cols, [[r[c] for c in cols] for r in rows]

    @staticmethod
    def _goods(con, land, days):
        """goods_event: each event's row from the last day that carried it,
        goods names mapped through the aliases, titles reduced to the
        catalog name, URLs enriched from the goods-key movie-event lookup."""
        files = ", ".join(f"'{land}/{d['goods']}'" for d in days)
        return compare.duckdb_result(con, f"""
            WITH g AS (
              SELECT *, regexp_extract(filename, '(\\d{{8}})\\.json$', 1) AS tag
              FROM read_json([{files}], filename = true, format = 'newline_delimited',
                             columns = {{event_id: 'VARCHAR', movie_title: 'VARCHAR',
                                        goods_name: 'VARCHAR', start_date: 'VARCHAR',
                                        end_date: 'VARCHAR', event_url: 'VARCHAR',
                                        image_url: 'VARCHAR'}})),
            latest AS (SELECT * FROM g QUALIFY row_number() OVER (
                         PARTITION BY event_id ORDER BY tag DESC) = 1),
            al AS (SELECT * FROM read_json('{land}/aliases.json',
                     columns = {{raw: 'VARCHAR', canonical: 'VARCHAR'}})),
            me AS (SELECT * FROM read_json('{land}/movie_events.json',
                     columns = {{movie_title: 'VARCHAR', goods_name: 'VARCHAR',
                                start_date: 'VARCHAR', end_date: 'VARCHAR',
                                event_url: 'VARCHAR', image_url: 'VARCHAR'}})),
            norm AS (
              SELECT l.event_id,
                     trim(regexp_replace(l.movie_title, '\\s*<[^>]*>\\s*', ' ', 'g')) AS movie_title,
                     COALESCE(al.canonical, l.goods_name) AS goods_name,
                     l.start_date, l.end_date, l.event_url, l.image_url
              FROM latest l LEFT JOIN al ON l.goods_name = al.raw)
            SELECT n.event_id, n.movie_title, n.goods_name, n.start_date, n.end_date,
                   CASE WHEN me.movie_title IS NOT NULL
                        THEN COALESCE(me.event_url, n.event_url) ELSE n.event_url END AS event_url,
                   CASE WHEN me.movie_title IS NOT NULL
                        THEN COALESCE(n.image_url, me.image_url) ELSE n.image_url END AS image_url
            FROM norm n LEFT JOIN me
              ON me.movie_title = n.movie_title AND me.goods_name = n.goods_name""")

    def metrics(self, ops, summary):
        return op_metrics(ops, self.KINDS, summary)


WORKLOADS = {w.name: w for w in (AgentSql(), StoreIngest())}
