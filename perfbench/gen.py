"""Seeded input generators for the benchmark.

`tables(seed, sf, out)` writes the ten star-schema tables the query
inventory reads (one single-row-group parquet file per table, the same
schemas and value domains as the sf fixtures described in FIXTURES.md).

`etl(seed, out)` writes the reference pipeline's raw inputs: football-data
league CSVs (odds-column fallback, day-first dates, bad rows, Unicode team
names), an odds-API JSON body, two xG seasons and the six dimension
tables, plus `expected.json` with the row counts a correct run produces.

The same seed always gives byte-identical inputs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "red", "shiny", "small", "green"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30, compression="snappy")


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span + 1, n) * 86_400_000_000).astype(
        "timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    # events: ascending timestamps over 30 days, like an append-only log
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: bag-of-words text; a few near-duplicates so dedup finds work
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.02:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, 30))]
        else:
            words = [WORDS[j] for j in rng.integers(0, 30, int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # embeddings: unit vectors scattered around one centre per label
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0, 1, (10, 64))
    v = centres[labels] + rng.normal(0, 1.5, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


# ------------------------------------------------------------ ETL inputs

TEAMS = ["Arsenal", "Chelsea", "Liverpool", "Everton", "Fulham", "Brentford",
         "Atlético Madrid", "Real Betis", "Deportivo Alavés", "Cádiz",
         "Bodø/Glimt", "Vålerenga", "Strømsgodset", "Molde",
         "Borussia Mönchengladbach", "1. FC Köln", "Fortuna Düsseldorf",
         "Bayern München", "Saint-Étienne", "Nîmes", "Olympique Lyonnais",
         "Stade Brestois", "Beşiktaş", "Fenerbahçe", "Galatasaray",
         "Göztepe", "Śląsk Wrocław", "Wisła Kraków", "Legia Warszawa",
         "Górnik Zabrze", "Malmö FF", "AIK", "Hammarby", "Djurgården"]
# raw spellings the name map folds into a canonical team
ALIASES = {"The Gunners": "Arsenal", "Atletico Madrid": "Atlético Madrid",
           "Bodo/Glimt": "Bodø/Glimt", "Gladbach": "Borussia Mönchengladbach",
           "Koln": "1. FC Köln", "Besiktas": "Beşiktaş", "Malmo FF": "Malmö FF"}
# per-league odds layout: which bookmaker columns the file carries
LAYOUTS = [["B365", "PS"], ["PS", "WH"], ["WH", "IW"], ["B365"], ["IW"]]
# The reference pipeline's historical ingest: 10 CSVs, 5 leagues x 2
# seasons, about 380 matches per league-season, ~7.6k rows (BASELINE.md,
# "historical ingest volume"; SURVEY.md section 6).
LEAGUES, SEASONS, MATCHES_PER_SEASON = 5, 2, 380


def _csv_cell(v):
    s = "" if v is None else str(v)
    return f'"{s}"' if ("," in s or '"' in s) else s


def etl(seed, out):
    """League CSVs, odds JSON, xG seasons and dims for Pipeline.run."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    raw_names = TEAMS + list(ALIASES)
    valid = 0
    start = dt.date(2005, 8, 1)
    for lg in range(LEAGUES):
        books = LAYOUTS[lg]
        odds_cols = [f"{b}{x}" for b in books for x in "HDA"]
        header = ["Div", "Date", "HomeTeam", "AwayTeam", "FTHG", "FTAG"] + odds_cols
        for season in range(SEASONS):
            rows = []
            first = start + dt.timedelta(days=365 * season)
            for i in range(MATCHES_PER_SEASON):
                day = first + dt.timedelta(days=int(i * 300 / MATCHES_PER_SEASON))
                home, away = rng.choice(len(raw_names), 2, replace=False)
                date = day.strftime("%d/%m/%Y")
                h, a = raw_names[home], raw_names[away]
                bad = rng.random()
                if bad < 0.01:
                    date = "n/a"            # unparseable date: dropped
                elif bad < 0.015:
                    date = ""               # missing date: dropped
                elif bad < 0.02:
                    h = ""                  # missing team: dropped
                else:
                    valid += 1
                odds = []
                for b in books:
                    blank = b == books[0] and len(books) > 1 and rng.random() < 0.1
                    for _ in "HDA":         # first bookmaker sometimes blank
                        odds.append("" if blank else f"{rng.uniform(1.05, 12.0):.2f}")
                rows.append([f"L{lg}", date, h, a, int(rng.integers(0, 6)),
                             int(rng.integers(0, 6))] + odds)
            path = os.path.join(out, f"league_{lg}_{season}.csv")
            with open(path, "w", encoding="utf-8") as f:
                f.write(",".join(header) + "\n")
                for r in rows:
                    f.write(",".join(_csv_cell(c) for c in r) + "\n")

    games = []
    n_games = 600
    for i in range(n_games):
        home, away = rng.choice(len(TEAMS), 2, replace=False)
        bms = []
        for b in range(int(rng.integers(0, 4))):
            markets = []
            if rng.random() < 0.8:
                draw = "Draw" if rng.random() < 0.7 else "Tie"
                markets.append({"key": "h2h", "outcomes": [
                    {"name": TEAMS[home], "price": round(float(rng.uniform(1.1, 9)), 2)},
                    {"name": draw, "price": round(float(rng.uniform(2.5, 5)), 2)},
                    {"name": TEAMS[away], "price": round(float(rng.uniform(1.1, 9)), 2)}]})
            markets.append({"key": "totals", "outcomes": [
                {"name": "Over", "price": 1.9}, {"name": "Under", "price": 1.9}]})
            bms.append({"key": f"bm{b}", "markets": markets})
        t = dt.datetime(2026, 8, 1, 12) + dt.timedelta(hours=int(rng.integers(0, 24 * 270)))
        games.append({"home_team": TEAMS[home], "away_team": TEAMS[away],
                      "commence_time": t.strftime("%Y-%m-%dT%H:%M:%SZ"),
                      "bookmakers": bms})
    with open(os.path.join(out, "odds.json"), "w", encoding="utf-8") as f:
        json.dump(games, f, ensure_ascii=False)

    keys = set()
    for season in ("xg_current", "xg_last"):
        with open(os.path.join(out, f"{season}.csv"), "w", encoding="utf-8") as f:
            f.write("team,league_id,xg,xga,xgd,xgd90\n")
            for ti, team in enumerate(TEAMS):
                if rng.random() < 0.15:
                    continue            # team missing from this season
                lg = ti % LEAGUES
                keys.add((team, lg))
                xg, xga = rng.uniform(0.6, 2.6), rng.uniform(0.6, 2.6)
                f.write(",".join(_csv_cell(c) for c in [
                    team, lg, f"{xg:.3f}", f"{xga:.3f}", f"{xg - xga:.3f}",
                    f"{(xg - xga) / 3:.3f}"]) + "\n")

    def dim(name, header, rows):
        with open(os.path.join(out, f"{name}.csv"), "w", encoding="utf-8") as f:
            f.write(",".join(header) + "\n")
            for r in rows:
                f.write(",".join(_csv_cell(c) for c in r) + "\n")

    dim("teams", ["team", "gk_rating", "setpiece_rating", "crowd_index"],
        [[t, f"{rng.uniform(.55, .9):.3f}", f"{rng.uniform(.5, .85):.3f}",
          f"{rng.uniform(.3, 1):.3f}"] for t in TEAMS])
    dim("stadiums", ["team", "stadium", "lat", "lon"],
        [[t, f"{t} Ground", f"{rng.uniform(36, 62):.4f}", f"{rng.uniform(-9, 30):.4f}"]
         for t in TEAMS])
    dim("refs", ["ref_name", "ref_pen_rate"],
        [[f"Ref {i}", f"{rng.uniform(.1, .5):.3f}"] for i in range(12)])
    inj, lu = [], []
    for i, d in enumerate(sorted({start + dt.timedelta(days=int(x))
                                  for x in rng.integers(0, 365 * SEASONS, 400)})):
        t = TEAMS[i % len(TEAMS)]
        inj.append([d.isoformat() + "T00:00:00", t, f"{rng.uniform(0, 1):.3f}"])
        lu.append([d.isoformat() + "T00:00:00", t, int(rng.integers(0, 3)),
                   int(rng.integers(0, 3)), int(rng.integers(0, 2))])
    dim("injuries", ["date", "team", "injury_index"], inj)
    dim("lineups", ["date", "team", "key_att_out", "key_def_out", "keeper_changed"], lu)
    dim("name_map", ["raw", "canonical"], sorted(ALIASES.items()))

    in_bytes = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"league_rows": LEAGUES * SEASONS * MATCHES_PER_SEASON, "hist_rows": valid,
                   "upcoming_rows": n_games, "xg_rows": len(keys),
                   "input_bytes": in_bytes}, f)
