"""The benchmark's workloads: the product paths the engine runs.

Each workload has the same shape: ``iterate`` (one timed pass,
repeated for the run's seconds), ``check`` (correctness verdicts on the
last pass's outputs) and ``cleanup``.  Outputs are compared in Python with pyarrow, so checks add
no Spark jobs to the status store between timed passes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import contextmanager
from datetime import datetime, timedelta

import pandas as pd
import pyarrow.dataset as ds

import gen

_FMT = "%Y-%m-%d %H:%M:%S"


def _s(t: datetime) -> str:
    return t.strftime(_FMT)


def read_table(path: str) -> pd.DataFrame:
    """A parquet table directory (hive partitions included) as pandas,
    partition columns cast back to plain ints."""
    if not os.path.isdir(path):
        return pd.DataFrame()
    df = ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.CategoricalDtype):
            df[c] = df[c].astype("int64")
    return df


def table_hash(df: pd.DataFrame, drop: tuple[str, ...] = ()) -> str:
    """Row-order-independent content hash; doubles rounded to 6 places
    (sums may accumulate in another order on a rerun)."""
    df = df.drop(columns=[c for c in drop if c in df.columns])
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    rows = pd.util.hash_pandas_object(df, index=False).sort_values().values
    return hashlib.sha256(",".join(df.columns).encode() + rows.tobytes()).hexdigest()


def same_rows(got: pd.DataFrame, want: pd.DataFrame, digits: int = 4) -> bool:
    if len(got) != len(want) or set(got.columns) != set(want.columns):
        return False
    cols = sorted(want.columns)

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            if df[c].dtype.kind == "f":
                df[c] = df[c].round(digits) + 0.0
            elif df[c].dtype.kind in "iu":
                df[c] = df[c].astype("int64")
        return df.sort_values(cols).reset_index(drop=True)

    return norm(got).equals(norm(want))


# =================================================================== backfill


class Backfill:
    """A report board backfilled over empty tables, then one family
    re-run through the manual-rerun journal and the daemon.

    Pass 1 is one ``execute_board`` over the last calendar day:
    ``trans_summary`` and ``player_summary`` at 5min and 1H (the day's
    last hour), 1D (the day) and 1M (its month), and the stateful
    ``risk_ctrl_rtp`` at 1D.  The rerun pass files one
    ``submit_rerun_requests`` row for every ``trans_summary`` tier over
    the same windows and runs the daemon's rerun and executor ticks at
    the next midnight: the journal is consumed, the windows re-opened on
    the board and re-executed over the materialised tables.
    """

    name = "backfill"
    ROLLUP_FAMILIES = ("trans_summary", "player_summary")
    ROLLUP_TIERS = ("5min", "1H", "1D", "1M")
    RERUN_FAMILY = "trans_summary"
    #: rtp alert bookkeeping advances on every run by design
    #: (throttle/count/stamp); its report columns must not change.
    RTP_STATE_COLUMNS = ("send_alert", "alert_count", "last_alert_time", "update_time")

    def __init__(self, spark, data_dir: str, work_dir: str) -> None:
        self.spark = spark
        self.data = data_dir
        self.work = work_dir
        self.day = gen.calendar_day(gen.N_DAYS - 1)
        self.now = self.day + timedelta(days=1)
        self.iteration = 0
        self.last: dict = {}

    # ------------------------------------------------------------ inputs

    def board(self):
        from pyspark.sql import functions as F

        from tg_reporting_etl_spark.runner.board import LEVELS
        from tg_reporting_etl_spark.runner.timeslice import expand_timeslices

        month0 = self.day.replace(day=1)
        last_hour = (self.now - timedelta(hours=1), self.now)
        ranges = {"5min": last_hour, "1H": last_hour, "1D": (self.day, self.now), "1M": (month0, self.now)}
        windows = [(rc, f) for rc in self.ROLLUP_FAMILIES for f in self.ROLLUP_TIERS] + [("risk_ctrl_rtp", "1D")]
        meta = self.spark.createDataFrame(
            [(*ranges[f], "ALL", "ALL", "ALL", rc, f"{rc}_{f.lower()}", f, LEVELS[f]) for rc, f in windows],
            "gte_time timestamp, lt_time timestamp, platform string, site_code string, game_code string, "
            "report_class string, assignee string, freq_type string, level int",
        )
        return expand_timeslices(meta).withColumn("done", F.lit(0))

    def rerun_requests(self):
        """One operator request: every tier of ``RERUN_FAMILY`` over the
        board's windows."""
        last_hour = self.now - timedelta(hours=1)
        return self.spark.createDataFrame(
            [("ALL", "ALL", "ALL", self.RERUN_FAMILY, last_hour, self.now, 1, 1, 1, 1)],
            "platform string, site_code string, game_code string, report_class string, "
            "gte_time timestamp, lt_time timestamp, `5min` int, `1h` int, `1d` int, `1m` int",
        )

    def families(self, out: str):
        from tg_reporting_etl_spark.adapters import testdata as td
        from tg_reporting_etl_spark.runner import executor as ex

        s, d = self.spark, self.data
        trans = ex.TransSummaryFamily(td.player_value_log(s, d), out)
        player = ex.PlayerSummaryFamily(td.player_profit_log(s, d), td.game_sites(s, d), out)
        return [trans, player, ex.RiskCtrlRtpFamily(player, out, clock=lambda: self.now)]

    # -------------------------------------------------------------- runs

    def iterate(self, clock) -> dict:
        """Pass 1 and the rerun pass, each timed as a ``clock`` lap;
        board write-back and output hashing run between the laps."""
        from pyspark.sql import functions as F

        from tg_reporting_etl_spark.runner import executor as ex
        from tg_reporting_etl_spark.runner.daemon import Daemon
        from tg_reporting_etl_spark.runner.rerun import submit_rerun_requests

        self.cleanup()
        base = os.path.join(self.work, f"backfill-{self.iteration}")
        self.iteration += 1
        out = os.path.join(base, "tables")
        fams = self.families(out)
        board = self.board().cache()
        board.count()

        with clock.lap("backfill"):
            records = ex.execute_board(self.spark, board, fams, _s(self.now))

        # the daemon's board: pass 1 closed every window
        board_path = os.path.join(base, "board")
        board.withColumn("done", F.lit(1)).write.parquet(board_path)
        board.unpersist()
        before = self.table_hashes(fams)

        daemon = Daemon(
            self.spark,
            board_path,
            fams,
            journal_path=os.path.join(base, "journal"),
            error_log_path=os.path.join(base, "error_log"),
            clock=lambda: self.now,
        )
        with clock.lap("rerun"):
            submit_rerun_requests(self.spark, daemon.journal_path, self.rerun_requests())
            daemon.rerun_tick(self.now)
            rerun_records = daemon.executor_tick(self.now)

        after = self.table_hashes(fams)
        self.last = {"base": base, "fams": fams, "records": records, "rerun_records": rerun_records,
                     "before": before, "after": after, "daemon": daemon}
        ops = _group_runtimes(records) + _group_runtimes(rerun_records)
        return {"ops": ops}

    # ------------------------------------------------------------ checks

    def table_paths(self, fams) -> dict[str, str]:
        paths = {}
        for f in fams:
            for tier in f.tiers:
                paths[os.path.basename(f.table_path(tier))] = f.table_path(tier)
        return paths

    def table_hashes(self, fams) -> dict[str, str]:
        out = {}
        for name, path in self.table_paths(fams).items():
            drop = self.RTP_STATE_COLUMNS if name.startswith("risk_ctrl_rtp") else ()
            out[name] = table_hash(read_table(path), drop)
        return out

    def check(self) -> list[str]:
        """Failed verdicts (empty == correct)."""
        from tg_reporting_etl_spark.adapters import testdata as td
        from tg_reporting_etl_spark.operators import player_summary as ps
        from tg_reporting_etl_spark.operators import trans_summary as ts

        last, failures = self.last, []
        fams = {f.report_class: f for f in last["fams"]}
        # every family materialised rows
        for rc, f in fams.items():
            if not any(len(read_table(f.table_path(t))) for t in f.tiers):
                failures.append(f"{rc}: no rows materialised")
        # 1d and 1m tiers equal a direct operator computation from raw
        g5, nxt = _s(self.now - timedelta(hours=1)), _s(self.now)
        s, d = self.spark, self.data
        direct = {
            "trans_summary": (ts.trans_summary_5min(td.player_value_log(s, d), g5, nxt), ts),
            "player_summary": (ps.player_summary_5min(td.player_profit_log(s, d), td.game_sites(s, d), g5, nxt), ps),
        }
        for rc, (t5, mod) in direct.items():
            d1 = getattr(mod, f"{rc}_1d")(getattr(mod, f"{rc}_1h")(t5)).cache()
            for tier, want in (("1d", d1), ("1m", getattr(mod, f"{rc}_1m")(d1))):
                if not same_rows(read_table(fams[rc].table_path(tier)), want.toPandas()):
                    failures.append(f"{rc}_{tier}: differs from the direct computation")
            d1.unpersist()
        # the rerun leaves every table unchanged
        for name, h in last["before"].items():
            if last["after"].get(name) != h:
                failures.append(f"{name}: content changed on rerun")
        # the rerun re-executed exactly the requested family's windows,
        # and the board closed them again without fanning out
        board = read_table(last["daemon"].board_path)
        n_board = len(last["records"])
        want = sum(1 for r in last["records"] if r["report_class"] == self.RERUN_FAMILY)
        if len(board) != n_board or (board["done"] != 1).any():
            failures.append(f"board: {len(board)} rows, {int((board['done'] != 1).sum())} open; want {n_board} closed")
        if len(last["rerun_records"]) != want:
            failures.append(f"rerun executed {len(last['rerun_records'])} windows, want {want}")
        if os.path.exists(last["daemon"].error_log_path):
            failures.append("daemon: error log written")
        return failures

    def cleanup(self) -> None:
        shutil.rmtree(self.last.get("base", ""), ignore_errors=True)


def _group_runtimes(records: list[dict]) -> list[float]:
    """One runtime per dispatched (family, tier, scope) group: execute_board
    stamps every task record of a group with the group's runtime."""
    seen = {}
    for r in records:
        seen[(r["report_class"], r["freq_type"], r["platform"], r["site_code"])] = r["runtime_second"]
    return list(seen.values())


# =================================================================== curation


class Curation:
    """The LLM data chain over the document corpus, each stage's output
    written to parquet before the next stage reads it."""

    name = "curation"
    TAU = 0.35
    MIN_QUALITY, MAX_DUP = 0.3, 0.6
    SEQ_LEN = 256
    TOKENS_PER_SHARD = 2000
    WEIGHTS = {f"src{i}": float(1 + i % 4) for i in range(gen.N_SOURCES)}
    STAGES = ("dedup", "components", "curation", "spans", "sampling", "packing", "shards")

    def __init__(self, spark, data_dir: str, work_dir: str) -> None:
        self.spark = spark
        self.data = data_dir
        self.work = work_dir
        self.iteration = 0
        self.base = ""

    def docs(self):
        from tg_reporting_etl_spark.sources.readers import load_table

        return load_table(self.spark, self.data, "documents")

    def run_chain(self, base: str, stage) -> None:
        """The chain; ``stage(name)`` is a context manager around each
        stage's call and write."""
        from pyspark.sql import functions as F

        from tg_reporting_etl_spark.functions import curation as cu
        from tg_reporting_etl_spark.functions import dedup as dd
        from tg_reporting_etl_spark.functions import packing as pk
        from tg_reporting_etl_spark.functions import sampling as sp
        from tg_reporting_etl_spark.functions import spans as sn

        spark = self.spark
        p = lambda name: os.path.join(base, name)  # noqa: E731
        docs = self.docs()
        with stage("dedup"):
            dd.ngram_jaccard_dedup_capped(docs, self.TAU).write.parquet(p("pairs"))
        with stage("components"):
            pairs = spark.read.parquet(p("pairs")).select("doc_a", "doc_b")
            dd.connected_components(pairs).write.parquet(p("components"))
        with stage("curation"):
            comp = spark.read.parquet(p("components"))
            cu.curate_corpus(docs, comp, self.MIN_QUALITY, self.MAX_DUP).write.parquet(p("kept"))
        with stage("spans"):
            kept = spark.read.parquet(p("kept"))
            sn.remove_duplicated_spans(docs.join(kept.select("doc_id"), "doc_id")).write.parquet(p("clean"))
        with stage("sampling"):
            sp.mixture_sample(kept, "source", self.WEIGHTS).write.parquet(p("mixed"))
        with stage("packing"):
            mixed = spark.read.parquet(p("mixed"))
            pk.pack_sequences(mixed.select("doc_id", "n_tokens"), self.SEQ_LEN).write.parquet(p("packed"))
        with stage("shards"):
            clean = spark.read.parquet(p("clean")).select("doc_id", F.col("text_clean").alias("text"))
            pk.write_balanced_shards(
                clean.join(mixed.select("doc_id"), "doc_id"), p("shards"), tokens_per_shard=self.TOKENS_PER_SHARD
            )

    def iterate(self, clock) -> dict:
        if self.base:
            shutil.rmtree(self.base, ignore_errors=True)
        self.base = os.path.join(self.work, f"curation-{self.iteration}")
        self.iteration += 1
        ops: list[float] = []
        tracer = clock.tracer

        @contextmanager
        def stage(name: str):
            span = tracer.begin(f"functions.{name}") if tracer else None
            t0 = time.perf_counter()
            try:
                yield
            finally:
                ops.append(time.perf_counter() - t0)
                if span is not None:
                    tracer.end(span)

        with clock.lap("curation"):
            self.run_chain(self.base, stage)
        return {"ops": ops}

    def output_counts(self) -> dict[str, int]:
        """Rows of the last pass's pair and keeper tables (parquet footers)."""
        return {n: ds.dataset(os.path.join(self.base, n), format="parquet").count_rows() for n in ("pairs", "kept")}

    def outputs(self) -> dict[str, pd.DataFrame]:
        return {n: read_table(os.path.join(self.base, n)) for n in
                ("pairs", "components", "kept", "clean", "mixed", "packed", "shards")}

    def check(self) -> list[str]:
        """The composed-chain invariants: every joint's output is
        consistent with its input."""
        o, failures = self.outputs(), []
        n_docs = gen.N_DOCS
        comp, kept, clean, mixed, packed, shards = (o[k] for k in ("components", "kept", "clean", "mixed", "packed", "shards"))
        if not 0 < len(comp) < n_docs:
            failures.append(f"components: {len(comp)} docs, want within (0, {n_docs})")
        if not 0 < len(kept) < n_docs:
            failures.append(f"kept: {len(kept)} docs, want within (0, {n_docs})")
        dropped = set(comp.loc[comp["doc_id"] != comp["component_id"], "doc_id"]) if len(comp) else set()
        if dropped & set(kept["doc_id"]):
            failures.append("kept: contains a non-keeper of a near-dup component")
        if len(clean) != len(kept) or set(clean["doc_id"]) != set(kept["doc_id"]):
            failures.append("spans: survivors not returned one-for-one")
        if not 0 < len(mixed) <= len(kept) or not set(mixed["doc_id"]) <= set(kept["doc_id"]):
            failures.append("sampling: sample is not a non-empty subset of the kept docs")
        if not set(mixed["source"]) <= set(self.WEIGHTS):
            failures.append("sampling: a source outside the mixture weights")
        if int(packed["n_tokens"].sum()) != int(mixed["n_tokens"].sum()):
            failures.append("packing: token total differs from the sample's")
        full = packed.sort_values("seq_id")["n_tokens"].iloc[:-1]
        if (full != self.SEQ_LEN).any():
            failures.append("packing: a non-final sequence is not full")
        if len(shards) != len(mixed) or set(shards["doc_id"]) != set(mixed["doc_id"]):
            failures.append(f"shards: read back {len(shards)} docs, want {len(mixed)}")
        return failures

    def cleanup(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Backfill, Curation)}
