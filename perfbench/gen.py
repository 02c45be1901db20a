"""Seeded input generator and expected results for the benchmark.

Everything here is pure Python/NumPy/pandas, computed in the benchmark's
own process: the same seed gives byte-identical inputs, and the expected
tables are derived from the generator's rows, never from Spark.

The season mirrors the reference's scheduled job:

- odds: 3 snapshots on even days and 2 on odd days, each covering the
  current game week's 16 games x 10 books x 3 markets x 2 outcomes = 960
  flat rows; every 10th payload is re-sent at the same run time, so the
  full-row dedup of the odds upsert has duplicates to drop;
- rankings: one collection each Tuesday of the 221-table x 32-team
  registry (7 value columns per table, 49,504 long rows); every third
  Tuesday is collected again that evening with about 5% of the values
  changed, so the keyed keep-latest upsert replaces values;
- the season runs from September into January, so it crosses month
  and year partition boundaries.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json

import numpy as np
import pandas as pd

TEAMS = [
    "Arizona", "Atlanta", "Baltimore", "Buffalo", "Carolina", "Chicago",
    "Cincinnati", "Cleveland", "Dallas", "Denver", "Detroit", "Green Bay",
    "Houston", "Indianapolis", "Jacksonville", "Kansas City", "Las Vegas",
    "LA Chargers", "LA Rams", "Miami", "Minnesota", "New England",
    "New Orleans", "NY Giants", "NY Jets", "Philadelphia", "Pittsburgh",
    "San Francisco", "Seattle", "Tampa Bay", "Tennessee", "Washington"]
BOOKS = ["draftkings", "fanduel", "betmgm", "caesars", "pointsbet",
         "bovada", "betrivers", "wynnbet", "unibet", "barstool"]
MARKETS = ("h2h", "spreads", "totals")
CATEGORIES = ("offense", "defense", "special_teams", "turnovers",
              "penalties", "efficiency", "situational")
N_TABLES = 221
SEASON_YEAR = 2025
# value columns of every rankings table, as the site prints them; the two
# year columns become this_yr / last_yr in the scraped metric names
TABLE_COLS = ["Rank", str(SEASON_YEAR), str(SEASON_YEAR - 1), "Last 3",
              "Last 1", "Home", "Away"]
METRIC_SUFFIXES = ["rank", "this_yr", "last_yr", "last_3", "last_1",
                   "home", "away"]
FIRST_DAY = dt.date(2025, 9, 1)      # a Monday
N_WEEKS = 18                         # last game Sunday 2026-01-04
ODDS_HOURS = (8, 14, 20)
RESEND_EVERY = 10        # every 10th odds payload is sent twice
RECOLLECT_EVERY = 3      # every third week's rankings are collected twice
RECOLLECT_CHANGE_P = 0.05
# training contract: one curated metric every 48 registry metrics (32
# base metrics -> 96 per-side columns + game features), the size of the
# reference's hand-kept column list
N_BASE_METRICS = 32
GAME_FEATURES = ["travel_delta", "consensus_spread"]
EWM_DECAY = 0.88
EWM_LAST_N = 16
WINDOW_WEEKS = 12

ODDS_COLS = ["game_id", "game_time", "home_team", "away_team", "book",
             "market", "outcome", "price", "point", "timestamp"]


def registry_rows() -> list[tuple]:
    """The 221-row scrape registry (category, table_name, base_url,
    cols_to_keep, record_cols); seed-independent, like the reference's
    registry spreadsheet."""
    keep = ",".join(TABLE_COLS[i] for i in range(len(TABLE_COLS)))
    return [(CATEGORIES[i % len(CATEGORIES)], f"stat_{i:03d}",
             f"https://rankings.invalid/{i:03d}", keep, "")
            for i in range(N_TABLES)]


def all_metrics() -> list[str]:
    return [f"{c}_{t}_{s}" for c, t, _u, _k, _r in registry_rows()
            for s in METRIC_SUFFIXES]


def base_metrics() -> list[str]:
    ms = all_metrics()
    step = len(ms) // N_BASE_METRICS
    return [ms[i * step] for i in range(N_BASE_METRICS)]


def game_sunday(week: int) -> dt.date:
    return FIRST_DAY + dt.timedelta(days=6 + 7 * week)


def rankings_date(week: int) -> dt.date:
    """The Tuesday of game week ``week`` (before its Sunday games)."""
    return FIRST_DAY + dt.timedelta(days=1 + 7 * week)


class Season:
    """One seeded season: schedule, collection events and the rows each
    event carries. Odds payloads are built on demand, rankings tables per
    (week, version)."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        self.games: list[list[tuple[str, str, str]]] = []
        for w in range(N_WEEKS):
            order = rng.permutation(len(TEAMS))
            self.games.append([
                (f"{SEASON_YEAR}-w{w:02d}-g{g:02d}", TEAMS[order[2 * g]],
                 TEAMS[order[2 * g + 1]]) for g in range(len(TEAMS) // 2)])
        self.team_lon = {t: round(float(v), 3) for t, v in
                         zip(TEAMS, rng.uniform(-122.5, -71.0, len(TEAMS)))}
        self.strength = rng.normal(0.0, 1.0, (N_TABLES, len(TEAMS),
                                              len(TABLE_COLS)))
        self.events = self._schedule()
        self._rankings_rows: dict[tuple[int, int], pd.DataFrame] = {}

    def _schedule(self) -> list[dict]:
        """Season-ordered collection events. An event is a dict with
        ``kind`` ('odds' | 'rankings'), ``run`` (naive wall-clock run
        datetime), ``week`` and, for odds, ``snap`` (the payload id) or,
        for rankings, ``version`` (0 first collection, 1 re-collection).
        The shape of the schedule is the same for every seed, so every
        seed's run does the same amount of work; the seed sets the
        values, prices and pairings."""
        events: list[dict] = []
        snap = 0
        for day in range(7 * N_WEEKS):
            date = FIRST_DAY + dt.timedelta(days=day)
            week = day // 7
            at = lambda h: dt.datetime.combine(date, dt.time(h))  # noqa: E731
            if date.weekday() == 1:
                events.append({"kind": "rankings", "week": week, "version": 0,
                               "run": at(9)})
            for h in ODDS_HOURS[::1 if day % 2 == 0 else 2]:
                ev = {"kind": "odds", "week": week, "snap": snap, "run": at(h)}
                events.append(ev)
                if snap % RESEND_EVERY == RESEND_EVERY // 2 - 1:
                    events.append(dict(ev, resent=True))
                snap += 1
            if date.weekday() == 1 and week % RECOLLECT_EVERY == 1:
                events.append({"kind": "rankings", "week": week, "version": 1,
                               "run": at(21)})
        return events

    # ------------------------------------------------------------ odds
    def _odds_values(self, snap: int):
        """Home spread, total and the six prices (h2h home/away, spreads
        home/away, over/under) of every (game, book) in one snapshot."""
        rng = np.random.default_rng([self.seed, 1, snap])
        shape = (len(TEAMS) // 2, len(BOOKS))
        spread = rng.integers(-20, 21, shape) / 2
        total = 37.5 + rng.integers(0, 31, shape) / 2
        prices = rng.integers(-240, 241, shape + (6,))
        return spread, total, prices

    def odds_payload(self, ev: dict) -> list[dict]:
        """The odds API response of one snapshot: the games of game week
        ``ev['week']``, every book, every market."""
        spread, total, prices = self._odds_values(ev["snap"])
        ko = dt.datetime.combine(game_sunday(ev["week"]), dt.time(18))
        out = []
        for g, (gid, home, away) in enumerate(self.games[ev["week"]]):
            books = []
            for b, book in enumerate(BOOKS):
                p = [int(v) for v in prices[g, b]]
                sp, tot = float(spread[g, b]), float(total[g, b])
                books.append({"key": book, "markets": [
                    {"key": "h2h", "outcomes": [
                        {"name": home, "price": p[0], "point": None},
                        {"name": away, "price": p[1], "point": None}]},
                    {"key": "spreads", "outcomes": [
                        {"name": home, "price": p[2], "point": sp},
                        {"name": away, "price": p[3], "point": -sp}]},
                    {"key": "totals", "outcomes": [
                        {"name": "Over", "price": p[4], "point": tot},
                        {"name": "Under", "price": p[5], "point": tot}]}]})
            out.append({"id": gid,
                        "commence_time": ko.strftime("%Y-%m-%dT%H:%M:%SZ"),
                        "home_team": home, "away_team": away,
                        "bookmakers": books})
        return out

    def odds_payload_json(self, ev: dict) -> str:
        return json.dumps(self.odds_payload(ev))

    def odds_rows(self, ev: dict) -> pd.DataFrame:
        """The flat rows the odds collector should store for one event:
        one per (game, book, outcome), in payload order."""
        spread, total, prices = self._odds_values(ev["snap"])
        games = self.games[ev["week"]]
        n_g, n_b = len(games), len(BOOKS)
        g = np.repeat(np.arange(n_g), n_b * 6)
        b = np.tile(np.repeat(np.arange(n_b), 6), n_g)
        o = np.tile(np.arange(6), n_g * n_b)
        gid, home, away = (np.array(c, dtype=object) for c in zip(*games))
        names = np.stack([home, away, home, away,
                          np.full(n_g, "Over", dtype=object),
                          np.full(n_g, "Under", dtype=object)], axis=1)
        sp, tot = spread[g, b], total[g, b]
        point = np.select([o == 2, o == 3, o >= 4], [sp, -sp, tot], 0.0)
        ko = dt.datetime.combine(game_sunday(ev["week"]), dt.time(18))
        return pd.DataFrame({
            "game_id": gid[g],
            "game_time": ko.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "home_team": home[g], "away_team": away[g],
            "book": np.array(BOOKS, dtype=object)[b],
            "market": np.array(MARKETS, dtype=object)[o // 2],
            "outcome": names[g, o],
            "price": prices[g, b, o].astype(np.int64),
            "point": point.astype(np.float64),
            "timestamp": ev["run"],
        })[ODDS_COLS]

    # -------------------------------------------------------- rankings
    def rankings_values(self, week: int, version: int) -> np.ndarray:
        """(table, team, column) values of one collection, one decimal."""
        rng = np.random.default_rng([self.seed, 2, week])
        vals = self.strength * 10 + rng.normal(0.0, 2.0, self.strength.shape)
        if version:
            rng2 = np.random.default_rng([self.seed, 3, week])
            mask = rng2.random(vals.shape) < RECOLLECT_CHANGE_P
            vals = np.where(mask, vals + rng2.normal(0.0, 1.0, vals.shape),
                            vals)
        vals = np.round(vals, 1)
        # the Rank column is the team's rank on the table's season column
        order = np.argsort(-vals[:, :, 1], axis=1, kind="stable")
        ranks = np.empty_like(order)
        np.put_along_axis(ranks, order,
                          np.arange(1, len(TEAMS) + 1)[None, :], axis=1)
        vals[:, :, 0] = ranks
        return vals

    def rankings_tables(self, week: int, version: int) -> dict[str, pd.DataFrame]:
        """table_name -> the parsed table the fetcher returns."""
        vals = self.rankings_values(week, version)
        out = {}
        for i, (_c, name, _u, _k, _r) in enumerate(registry_rows()):
            tbl = {"Team": list(TEAMS)}
            for j, col in enumerate(TABLE_COLS):
                tbl[col] = _fmt_array(vals[i, :, j], np.full(len(TEAMS), j))
            out[name] = pd.DataFrame(tbl)
        return out

    def rankings_rows(self, week: int, version: int) -> pd.DataFrame:
        """The long rows the rankings collector should produce for one
        collection: (team, date, metric, value) with string values."""
        if (week, version) not in self._rankings_rows:
            self._rankings_rows[week, version] = self._long_rows(week,
                                                                 version)
        return self._rankings_rows[week, version].copy()

    def _long_rows(self, week: int, version: int) -> pd.DataFrame:
        vals = self.rankings_values(week, version)
        metrics = np.array(all_metrics(), dtype=object).reshape(
            N_TABLES, len(METRIC_SUFFIXES))
        t, k, c = np.meshgrid(np.arange(N_TABLES), np.arange(len(TEAMS)),
                              np.arange(len(TABLE_COLS)), indexing="ij")
        flat_v = vals.reshape(-1)
        return pd.DataFrame({
            "team": np.array(TEAMS, dtype=object)[k.reshape(-1)],
            "date": rankings_date(week),
            "metric": metrics[t.reshape(-1), c.reshape(-1)],
            "value": _fmt_array(flat_v, c.reshape(-1)),
        })

    # ---------------------------------------------------- expectations
    def expected_odds(self, events: list[dict]) -> pd.DataFrame:
        """The odds table after ``events``: the distinct union of their
        rows (re-sent payloads collapse onto the first copy)."""
        frames = [self.odds_rows(e) for e in events if e["kind"] == "odds"
                  and not e.get("resent")]
        if not frames:
            return pd.DataFrame(columns=ODDS_COLS)
        return pd.concat(frames, ignore_index=True).drop_duplicates(
            ignore_index=True)

    def expected_rankings(self, events: list[dict]) -> pd.DataFrame:
        """The rankings table after ``events``: the newest collection's
        value per (team, date, metric), with its run timestamp."""
        newest: dict[int, dict] = {}
        for e in events:
            if e["kind"] == "rankings" and (
                    e["week"] not in newest
                    or e["run"] > newest[e["week"]]["run"]):
                newest[e["week"]] = e
        frames = []
        for w, e in sorted(newest.items()):
            f = self.rankings_rows(w, e["version"])
            f["timestamp"] = e["run"]
            frames.append(f)
        if not frames:
            return pd.DataFrame(columns=["team", "date", "metric", "value",
                                         "timestamp"])
        return pd.concat(frames, ignore_index=True)

    def expected_features(self, week: int, odds: pd.DataFrame,
                          rankings: pd.DataFrame) -> pd.DataFrame:
        """The training matrix of game week ``week`` recomputed in pandas
        from the expected tables: exp-weighted means over the 12-week
        window, home/road/differential per base metric, travel_delta and
        the consensus home spread of the window's snapshots."""
        lo, hi = window_bounds(week)
        r = rankings[(rankings["date"] >= lo) & (rankings["date"] <= hi)]
        r = r[r["metric"].isin(base_metrics())].copy()
        r["v"] = r["value"].astype(float)
        r = r.sort_values("date", ascending=False)
        r["rn"] = r.groupby(["team", "metric"]).cumcount()
        r = r[r["rn"] < EWM_LAST_N]
        r["w"] = EWM_DECAY ** r["rn"]
        r["wv"] = r["v"] * r["w"]
        g = r.groupby(["team", "metric"])[["wv", "w"]].sum()
        ewm = (g["wv"] / g["w"]).unstack("metric")
        lo_ts = dt.datetime.combine(lo, dt.time())
        hi_ts = dt.datetime.combine(hi, dt.time(23, 59, 59))
        o = odds[(odds["timestamp"] >= lo_ts) & (odds["timestamp"] <= hi_ts)
                 & (odds["market"] == "spreads")
                 & (odds["outcome"] == odds["home_team"])]
        spread = o.groupby("game_id")["point"].mean()
        rows = []
        for gid, home, away in self.games[week]:
            row = {"game_id": gid}
            for m in base_metrics():
                row[f"home_{m}"] = ewm.at[home, m]
                row[f"road_{m}"] = ewm.at[away, m]
                row[f"{m}_matchup_differential"] = (ewm.at[home, m]
                                                    - ewm.at[away, m])
            row["travel_delta"] = abs(self.team_lon[home]
                                      - self.team_lon[away])
            row["consensus_spread"] = spread.get(gid, np.nan)
            rows.append(row)
        return pd.DataFrame(rows)


def window_bounds(week: int) -> tuple[dt.date, dt.date]:
    """The 12-week as-of window of game week ``week``'s feature build:
    rankings dates and odds run days in [lo, hi], hi the Saturday before
    the week's Sunday games."""
    hi = game_sunday(week) - dt.timedelta(days=1)
    return hi - dt.timedelta(weeks=WINDOW_WEEKS) + dt.timedelta(days=1), hi


def window_months(week: int) -> list[tuple[int, int]]:
    lo, hi = window_bounds(week)
    out, d = [], lo.replace(day=1)
    while d <= hi:
        out.append((d.year, d.month))
        d = (d + dt.timedelta(days=32)).replace(day=1)
    return out


def partition_rows(events: list[dict]) -> dict[tuple[int, int], int]:
    """Rows stored per (year, month) partition, odds and rankings together,
    once ``events`` are collected: 960 per distinct odds snapshot and one
    full registry per collected rankings week, in the month of the run."""
    out: dict[tuple[int, int], int] = {}
    weeks = set()
    for e in events:
        key = (e["run"].year, e["run"].month)
        if e["kind"] == "odds" and not e.get("resent"):
            out[key] = out.get(key, 0) + len(TEAMS) // 2 * len(BOOKS) * 6
        elif e["kind"] == "rankings" and e["week"] not in weeks:
            weeks.add(e["week"])
            out[key] = out.get(key, 0) + N_TABLES * len(TEAMS) * len(TABLE_COLS)
    return out


def _fmt_array(vals: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """Values as the site prints them: the Rank column (column 0) as an
    integer, the rest with one decimal."""
    return np.where(cols == 0, np.char.mod("%d", vals.astype(np.int64)),
                    np.char.mod("%.1f", vals)).astype(object)


def digest(season: Season) -> str:
    """SHA-256 over every generated input of the season, in event order."""
    h = hashlib.sha256()
    h.update(json.dumps(season.games).encode())
    h.update(json.dumps(season.team_lon, sort_keys=True).encode())
    h.update(json.dumps(registry_rows()).encode())
    for ev in season.events:
        h.update(repr(sorted(ev.items())).encode())
        if ev["kind"] == "odds":
            h.update(season.odds_payload_json(ev).encode())
        else:
            # the fetched tables are these cells, laid out per table
            h.update("\x1f".join(season.rankings_rows(
                ev["week"], ev["version"])["value"]).encode())
    return h.hexdigest()
