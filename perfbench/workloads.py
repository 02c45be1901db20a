"""The two workloads, driven only through the program's public functions.

collect     season events through ``pipelines.handler`` with the odds and
            rankings collectors: the write side (``sources``, the Python
            worker path, ``io.upsert_partitioned``).
train_read  weekly training-matrix builds over a season lake: the read
            side (partition-pruned ``spark.read``, ``operators``,
            ``features``); writes nothing in the timed region.

Each workload is a class with ``setup()``, ``round()`` (one fixed block
of operations, repeated until the run's time is up) and ``check()``.
``op(name, fn)`` times one operation; in a traced run it also tags the
operation's Spark jobs and reads their REST records afterwards.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

import gen
import probes as tr

from nfl_data_engineering_spark import features, io, pipelines
from nfl_data_engineering_spark.operators import joins, windows
from nfl_data_engineering_spark.sources.html_table import REGISTRY_SCHEMA
from pyspark.sql import functions as F

RANKINGS_KEYS = pipelines.RANKINGS_KEY_COLS


class Workload:
    """What both workloads share: the season, the timed-operation record
    and the lake helpers."""

    def __init__(self, spark, seed: int, work: str, tracer: tr.Tracer | None):
        self.spark = spark
        self.season = gen.Season(seed)
        self.work = work
        self.tracer = tracer
        self.rest = tr.SparkRest(spark)
        self.op_times: list[float] = []
        self.records: list[dict] = []
        self.failed = 0
        self.rows = 0
        self.batch_rows: dict[str, int] = {}
        self._n = 0

    def op(self, kind: str, fn, timed: bool = True):
        """Run one operation under its own job tag; returns (fn's result,
        tag). A timed operation that raises is counted in ``failed`` and
        returns None; an untimed (set-up) one re-raises."""
        self._n += 1
        tag = f"perfbench-op-{self._n}"
        if self.tracer is not None:
            self.tracer.op = tag
        self.spark.addTag(tag)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 — one failed op, keep going
            if not timed:
                raise
            print(f"# op {tag} ({kind}) failed: {e!r}"[:500])
            out, ok = None, False
        else:
            ok = True
        wall = time.perf_counter() - t0
        self.spark.removeTag(tag)
        print(f"# {'op' if timed else 'set-up op'} {kind}: {wall:.3f}s",
              file=sys.stderr)
        if timed:
            self.op_times.append(wall)
            self.failed += not ok
        if self.tracer is not None:
            self.tracer.op = None
            self.records.append({"kind": kind, "wall": wall, "tag": tag,
                                 "timed": timed,
                                 "rest": self.rest.op_records(tag)})
        return out, tag

    def bulk_upsert(self, events: list[dict], lake: str):
        """Write ``events``' rows through ``io.upsert_partitioned`` as one
        untimed operation per table: the odds rows with re-sent payloads
        included (the full-row dedup drops them), and every rankings
        collection with the re-collections included (keep-latest keeps
        the newest value per key)."""
        s = self.season
        batches = [(pd.concat([s.odds_rows(e) for e in events
                               if e["kind"] == "odds"], ignore_index=True),
                    None, "odds")]
        ranked = [e for e in events if e["kind"] == "rankings"]
        if ranked:
            batches.append((pd.concat(
                [s.rankings_rows(e["week"], e["version"])
                 .assign(timestamp=e["run"]) for e in ranked],
                ignore_index=True), RANKINGS_KEYS, "rankings"))
        for pdf, keys, table in batches:
            df = self.spark.createDataFrame(pdf)
            if table == "rankings":
                df = df.withColumn("date", F.col("date").cast("date"))
            _out, tag = self.op(
                "bulk_upsert", lambda df=df, keys=keys, table=table:
                io.upsert_partitioned(self.spark, df,
                                      os.path.join(lake, table),
                                      key_cols=keys), timed=False)
            self.batch_rows[tag] = len(pdf)

    def lake_files(self) -> int:
        return sum(f.endswith(".parquet") for _d, _s, fs in os.walk(self.lake)
                   for f in fs)

    def lake_bytes_per_row(self) -> float:
        return _lake_bytes(self.lake) / _lake_rows(self.lake)


# =============================================================== collect
class Collect(Workload):
    """A lake as of Tuesday 2025-09-30 12:00, then each round replays the
    same slice of events through ``pipelines.handler`` on a fresh copy of
    it: the rest of that Tuesday (an odds snapshot, its re-sent payload,
    the same-date rankings re-collection) and the five odds snapshots of
    October 1-2, the first days of a new month partition.

    Set-up writes the September odds so far in one batch through
    ``io.upsert_partitioned``, then runs that Tuesday's first rankings
    collection and its 08:00 odds snapshot through the handler, which
    warms JIT/codegen and the Python workers before timing starts."""

    SLICE = (dt.datetime(2025, 9, 30, 12), dt.datetime(2025, 10, 3))
    WARMUP_FROM = dt.datetime(2025, 9, 30)

    def setup(self):
        s = self.season
        lo, hi = self.SLICE
        self.before = [e for e in s.events if e["run"] < lo]
        self.slice = [e for e in s.events if lo <= e["run"] < hi]
        self.base = os.path.join(self.work, "collect_base")
        self.inputs: dict[int, object] = {}
        self.registry = self.spark.createDataFrame(gen.registry_rows(),
                                                   REGISTRY_SCHEMA)
        warm = [e for e in self.before if e["run"] >= self.WARMUP_FROM]
        self.bulk_upsert([e for e in self.before if e["kind"] == "odds"
                          and e not in warm], self.base)
        for e in warm:
            self.op(e["kind"], lambda e=e: self._event(e, self.base),
                    timed=False)
        self.expected_rows = {id(e): (960 if e["kind"] == "odds" else
                                      gen.N_TABLES * len(gen.TEAMS)
                                      * len(gen.TABLE_COLS))
                              for e in self.slice}
        for e in self.slice:
            self._inputs(e)
        self.collected: list[tuple[dict, int | None]] = []

    def _inputs(self, e: dict):
        """The payload JSON (odds) or the fetched tables (rankings) of one
        event, generated once and outside the timed region."""
        if id(e) not in self.inputs:
            s = self.season
            self.inputs[id(e)] = (s.odds_payload_json(e) if e["kind"] == "odds"
                                  else s.rankings_tables(e["week"],
                                                         e["version"]))
        return self.inputs[id(e)]

    def _collectors(self, e: dict, lake: str):
        data = self._inputs(e)
        if e["kind"] == "odds":
            def odds(spark, run_dt):
                return pipelines.run_odds_collection(
                    spark, [data], os.path.join(lake, "odds"), run_dt)
            return {"odds": odds}

        def fetch(category, table_name, base_url, date, _t=data):
            return _t[table_name]

        def rankings(spark, run_dt):
            return pipelines.run_rankings_collection(
                spark, self.registry, run_dt.date().isoformat(), fetch,
                os.path.join(lake, "rankings"), run_dt)
        return {"rankings": rankings}

    def _event(self, e: dict, lake: str) -> dict:
        event = {"collectors_to_run": [e["kind"]],
                 "date": e["run"].isoformat()}
        return pipelines.handler(self.spark, event,
                                 self._collectors(e, lake))[e["kind"]]

    def round(self):
        lake = os.path.join(self.work, "collect_lake")
        shutil.rmtree(lake, ignore_errors=True)
        shutil.copytree(self.base, lake)
        self.lake = lake
        t0 = time.perf_counter()
        for e in self.slice:
            out, tag = self.op(e["kind"], lambda e=e: self._event(e, lake))
            self.collected.append((e, None if out is None
                                   else out["rows_collected"]))
            if out is not None:
                self.rows += out["rows_collected"]
                self.batch_rows[tag] = out["rows_collected"]
        return time.perf_counter() - t0

    def check(self) -> list[str]:
        """Read the final lake with pyarrow and compare with the
        generator: distinct odds rows, newest rankings value per key,
        year/month directory of every row, rows_collected per event."""
        s, errs = self.season, []
        for e, n in self.collected:
            if n is not None and n != self.expected_rows[id(e)]:
                errs.append(f"rows_collected {n} != "
                            f"{self.expected_rows[id(e)]} for {e}")
        # the bulk odds, the warm-up events and the slice; the rankings
        # lake starts with the warm-up collection
        done = [e for e in self.before if e["kind"] == "odds"
                or e["run"] >= self.WARMUP_FROM] + self.slice
        odds = _read_lake(os.path.join(self.lake, "odds"))
        rankings = _read_lake(os.path.join(self.lake, "rankings"))
        for name, got in (("odds", odds), ("rankings", rankings)):
            bad = ((got["year"] != got["timestamp"].dt.year)
                   | (got["month"] != got["timestamp"].dt.month)).sum()
            if bad:
                errs.append(f"{name}: {bad} rows outside their "
                            "year=/month= directory")
        errs += _frame_diff("odds", odds[gen.ODDS_COLS],
                            s.expected_odds(done))
        cols = RANKINGS_KEYS + ["value", "timestamp"]
        errs += _frame_diff("rankings", rankings[cols],
                            s.expected_rankings(done)[cols])
        return errs


# ============================================================ train_read
class TrainRead(Workload):
    """The season-to-date lake as of game week 17's build, written in
    set-up through ``io.upsert_partitioned``; each round runs that
    week's training-matrix build, whose 12-week window (2025-10-12 to
    2026-01-03) touches four of the lake's five month partitions and
    crosses a year boundary. There is no warm-up build: the scheduled
    job builds once per run, so the timed build pays its own plan
    compilation, after the lake writes have warmed the scan and write
    paths."""

    WEEK = 17

    def setup(self):
        s = self.season
        self.lake = os.path.join(self.work, "train_lake")
        hi = gen.window_bounds(self.WEEK)[1]
        self.events = [e for e in s.events if e["run"].date() <= hi]
        self.bulk_upsert(self.events, self.lake)
        self.teams = self.spark.createDataFrame(pd.DataFrame(
            {"team": list(s.team_lon), "lon": list(s.team_lon.values())}))
        part_rows = gen.partition_rows(self.events)
        self.window_rows = sum(part_rows.get(m, 0)
                               for m in gen.window_months(self.WEEK))
        self.results: list[pd.DataFrame] = []
        self.build_tags: list[str] = []

    def build(self, week: int) -> pd.DataFrame:
        spark = self.spark
        lo, hi = gen.window_bounds(week)
        months = gen.window_months(week)
        in_window = F.lit(False)
        for (y, m) in months:
            in_window = in_window | ((F.col("year") == y)
                                     & (F.col("month") == m))
        rankings = (spark.read.parquet(os.path.join(self.lake, "rankings"))
                    .filter(in_window)
                    .filter(F.col("date").between(F.lit(lo), F.lit(hi))))
        lo_ts = dt.datetime.combine(lo, dt.time())
        hi_ts = dt.datetime.combine(hi, dt.time(23, 59, 59))
        odds = (spark.read.parquet(os.path.join(self.lake, "odds"))
                .filter(in_window)
                .filter(F.col("timestamp").between(
                    F.to_timestamp(F.lit(str(lo_ts))),
                    F.to_timestamp(F.lit(str(hi_ts))))))
        ewm = windows.exp_weighted_mean(
            rankings.withColumn("v", F.col("value").cast("double")),
            ["team", "metric"], "date", "v", decay=gen.EWM_DECAY,
            last_n=gen.EWM_LAST_N)
        wide = joins.pivot_wide(ewm, ["team"], "metric", "ewm_value")
        sunday = gen.game_sunday(week).isoformat()
        home_spread = F.when((F.col("market") == "spreads")
                             & (F.col("outcome") == F.col("home_team")),
                             F.col("point"))
        spine = (odds.filter(F.col("game_time").startswith(sunday))
                 .groupBy("game_id", "home_team", "away_team")
                 .agg(F.avg(home_spread).alias("consensus_spread")))
        t = self.teams
        spine = (spine
                 .join(F.broadcast(t.select(F.col("team").alias("h"),
                                            F.col("lon").alias("hlon"))),
                       F.col("home_team") == F.col("h"))
                 .join(F.broadcast(t.select(F.col("team").alias("a"),
                                            F.col("lon").alias("alon"))),
                       F.col("away_team") == F.col("a"))
                 .withColumn("travel_delta",
                             F.abs(F.col("hlon") - F.col("alon"))))
        feats = joins.matchup_join(spine, wide, "team", "home_team",
                                   "away_team", gen.base_metrics())
        out = features.select_training_features(
            feats, gen.base_metrics(), ["game_id"], gen.GAME_FEATURES)
        return _materialize(out)

    def round(self):
        t0 = time.perf_counter()
        out, tag = self.op("build", lambda: self.build(self.WEEK))
        if out is not None:
            self.results.append(out)
            self.build_tags.append(tag)
            self.rows += self.window_rows
        return time.perf_counter() - t0

    def check(self) -> list[str]:
        """The feature contract, the differentials, the row count and the
        EWM values against a pandas recomputation from the generator's
        rows; the partitions each build read against its window."""
        errs, w = [], self.WEEK
        want_cols = ["game_id"] + features.training_feature_columns(
            gen.base_metrics(), gen.GAME_FEATURES)
        lo = gen.window_bounds(w)[0]
        recent = [e for e in self.events if e["run"].date() >= lo]
        exp = self.season.expected_features(
            w, self.season.expected_odds(recent),
            self.season.expected_rankings(recent))
        exp = exp.sort_values("game_id").reset_index(drop=True)
        for got in self.results:
            if list(got.columns) != want_cols:
                missing = set(want_cols) - set(got.columns)
                errs.append(f"week {w}: columns differ, missing {missing}")
                continue
            if len(got) != len(exp):
                errs.append(f"week {w}: {len(got)} rows, {len(exp)} games")
                continue
            got = got.sort_values("game_id").reset_index(drop=True)
            if (got["game_id"] != exp["game_id"]).any():
                errs.append(f"week {w}: game ids differ")
            for m in gen.base_metrics():
                d = (got[f"home_{m}"] - got[f"road_{m}"]
                     - got[f"{m}_matchup_differential"]).abs().max()
                if not d <= 1e-9:
                    errs.append(f"week {w}: {m} differential off by {d}")
                    break
            for c in want_cols[1:]:
                if not np.allclose(got[c].to_numpy(float),
                                   exp[c].to_numpy(float),
                                   rtol=1e-9, atol=1e-9, equal_nan=True):
                    errs.append(f"week {w}: {c} differs from the pandas "
                                "recomputation")
                    break
        return errs + self.check_partitions()

    def check_partitions(self) -> list[str]:
        """Every parquet scan of every timed build read only partitions of
        the months its window touches (Spark's own scan metrics, from the
        SQL REST endpoint)."""
        want = len(gen.window_months(self.WEEK))
        errs = []
        for tag in self.build_tags:
            scans = tr.sql_node_metrics(self.rest.op_records(tag),
                                        "Scan parquet")
            read = [sc.get("number of partitions read", -1) for sc in scans]
            if not read or any(not 0 < r <= want for r in read):
                errs.append(f"partitions read per scan {read}, the window "
                            f"touches {want} months")
        return errs


# =============================================================== helpers
def _materialize(df) -> pd.DataFrame:
    return df.toPandas()


def _read_lake(path: str) -> pd.DataFrame:
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table()
    out = t.to_pandas()
    out["timestamp"] = pd.to_datetime(out["timestamp"]).dt.tz_localize(None)
    if "date" in out:
        out["date"] = pd.to_datetime(out["date"]).dt.date
    return out


def _frame_diff(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Order-insensitive equality of two frames with the same columns."""
    def canon(f):
        f = f.copy()
        for c in f.columns:
            if c == "timestamp":
                f[c] = pd.to_datetime(f[c]).astype("datetime64[us]")
            elif c == "date":
                f[c] = f[c].astype(str)
            elif f[c].dtype == object or str(f[c].dtype) == "string":
                f[c] = f[c].astype(str)
        return f.sort_values(list(f.columns)).reset_index(drop=True)

    g, e = canon(got), canon(exp)
    if len(g) != len(e):
        return [f"{name}: {len(g)} rows stored, {len(e)} expected"]
    diff = g != e
    if diff.to_numpy().any():
        col = diff.any().idxmax()
        return [f"{name}: column {col} differs on "
                f"{int(diff[col].sum())} rows"]
    return []


def _lake_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _lake_rows(path: str) -> int:
    return sum(pads.dataset(os.path.join(path, t), format="parquet",
                            partitioning="hive").count_rows()
               for t in ("odds", "rankings"))
