"""Tests of the benchmark's input generator and expected results.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def test_same_seed_same_inputs_other_seed_differs():
    assert gen.digest(gen.Season(7)) == gen.digest(gen.Season(7))
    assert gen.digest(gen.Season(7)) != gen.digest(gen.Season(8))


def test_schedule_shape_is_seed_independent():
    def shape(s):
        return [(e["kind"], e["run"], e.get("resent", False),
                 e.get("version")) for e in s.events]
    assert shape(gen.Season(1)) == shape(gen.Season(2))


def _events(season):
    odds = next(e for e in season.events if e["kind"] == "odds"
                and any(r.get("resent") and r["snap"] == e["snap"]
                        for r in season.events))
    resent = next(e for e in season.events
                  if e.get("resent") and e["snap"] == odds["snap"])
    first, again = (next(e for e in season.events if e["kind"] == "rankings"
                         and e["version"] == v and e["week"] == 1)
                    for v in (0, 1))
    return odds, resent, first, again


def test_resent_odds_payload_is_stored_once():
    s = gen.Season(3)
    odds, resent, _first, _again = _events(s)
    assert s.odds_payload_json(odds) == s.odds_payload_json(resent)
    got = s.expected_odds([odds, resent])
    # 16 games x 10 books x 3 markets x 2 outcomes, once
    assert len(got) == 960
    assert got.equals(s.odds_rows(odds))
    # h2h has no point: stored as 0.0, as the collector fills it
    assert (got.loc[got["market"] == "h2h", "point"] == 0.0).all()
    spreads = got[got["market"] == "spreads"]
    home = spreads[spreads["outcome"] == spreads["home_team"]]
    away = spreads[spreads["outcome"] == spreads["away_team"]]
    assert np.array_equal(home["point"].to_numpy(), -away["point"].to_numpy())


def test_recollected_ranking_replaces_the_first_value():
    s = gen.Season(3)
    _odds, _resent, first, again = _events(s)
    assert first["run"].date() == again["run"].date()
    v0 = s.rankings_rows(1, 0)
    v1 = s.rankings_rows(1, 1)
    changed = v0["value"] != v1["value"]
    assert 0 < changed.sum() < len(v0)
    got = s.expected_rankings([first, again])
    assert len(got) == gen.N_TABLES * len(gen.TEAMS) * len(gen.TABLE_COLS)
    key = ["team", "date", "metric"]
    got = got.set_index(key).loc[v1.set_index(key).index]
    assert (got["value"].to_numpy() == v1["value"].to_numpy()).all()
    assert (got["timestamp"] == again["run"]).all()
    # the order of collection does not matter, the newest run wins
    assert s.expected_rankings([again, first]).equals(
        s.expected_rankings([first, again]))


def test_fetched_table_melts_to_the_long_rows():
    s = gen.Season(4)
    tables = s.rankings_tables(2, 0)
    rows = s.rankings_rows(2, 0)
    cat, name = gen.registry_rows()[5][:2]
    tbl = tables[name].set_index("Team")
    for col, suffix in zip(gen.TABLE_COLS, gen.METRIC_SUFFIXES):
        metric = f"{cat}_{name}_{suffix}"
        long = rows[rows["metric"] == metric].set_index("team")["value"]
        assert (long.loc[tbl.index] == tbl[col]).all()
    ranks = sorted(int(v) for v in tbl["Rank"])
    assert ranks == list(range(1, 33))


def test_partition_rows_counts_distinct_collections():
    s = gen.Season(1)
    odds, resent, first, again = _events(s)
    got = gen.partition_rows([odds, resent, first, again])
    month = (odds["run"].year, odds["run"].month)
    rk_month = (first["run"].year, first["run"].month)
    want = {month: 0, rk_month: 0}
    want[month] += 960
    want[rk_month] += gen.N_TABLES * len(gen.TEAMS) * len(gen.TABLE_COLS)
    assert got == want


def test_expected_features_hand_worked_ewm():
    """Each team's metric value is its team index plus the age-ordered
    series 0, 1, 2 (newest 2): the weighted mean is the team index plus
    (2 + 0.88 * 1 + 0.88^2 * 0) / (1 + 0.88 + 0.88^2)."""
    s = gen.Season(5)
    week = 14
    lo, hi = gen.window_bounds(week)
    dates = [hi - dt.timedelta(days=4 + 7 * k) for k in (2, 1, 0)]
    metrics = gen.base_metrics()
    rows = [(t, d, m, f"{i + k:.1f}")
            for i, t in enumerate(gen.TEAMS)
            for k, d in enumerate(dates) for m in metrics]
    # a row outside the window must not count
    rows.append((gen.TEAMS[0], lo - dt.timedelta(days=1), metrics[0], "99"))
    rankings = pd.DataFrame(rows, columns=["team", "date", "metric", "value"])
    odds = pd.DataFrame(columns=gen.ODDS_COLS)
    got = s.expected_features(week, odds, rankings)
    ewm = (2 + 0.88) / (1 + 0.88 + 0.88 ** 2)
    idx = {t: i for i, t in enumerate(gen.TEAMS)}
    assert len(got) == 16
    for (gid, home, away), (_, row) in zip(s.games[week], got.iterrows()):
        assert row["game_id"] == gid
        for m in metrics:
            assert abs(row[f"home_{m}"] - (idx[home] + ewm)) < 1e-12
            assert abs(row[f"road_{m}"] - (idx[away] + ewm)) < 1e-12
            assert abs(row[f"{m}_matchup_differential"]
                       - (idx[home] - idx[away])) < 1e-12
        assert row["travel_delta"] == abs(s.team_lon[home]
                                          - s.team_lon[away])
