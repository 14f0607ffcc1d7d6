"""Time-slice generator query + DuckDB oracle (SURVEY §2: G1, U1, F2).

Deliberately unaligned bounds (10:15 start, 06:47 end) exercise the
edge semantics: trailing open windows excluded, month windows kept only
when their month-end falls inside [gte, lt-1day].
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from tg_reporting_etl_spark.plans.catalog import register
from tg_reporting_etl_spark.runner.board import LEVELS
from tg_reporting_etl_spark.runner.timeslice import expand_timeslices

G0, L0 = "2024-01-03 10:15:00", "2024-03-02 06:47:00"
_REPORT = "trans_summary"

_FREQ_SQL = {
    "5min": ("INTERVAL 5 MINUTE", "_5min"),
    "1H": ("INTERVAL 1 HOUR", "_1h"),
    "1D": ("INTERVAL 1 DAY", "_1d"),
}


def _oracle() -> str:
    parts = []
    for freq, (unit, suffix) in _FREQ_SQL.items():
        parts.append(
            f"""SELECT gs.t AS gte_time, gs.t + {unit} AS lt_time,
       'ALL' AS platform, 'ALL' AS site_code, 'ALL' AS game_code,
       '{_REPORT}' AS report_class, '{_REPORT}{suffix}' AS assignee,
       '{freq}' AS freq_type, {LEVELS[freq]} AS level
FROM generate_series(TIMESTAMP '{G0}', TIMESTAMP '{L0}' - {unit}, {unit}) gs(t)"""
        )
    parts.append(
        f"""SELECT gs.t AS gte_time, gs.t + INTERVAL 1 MONTH AS lt_time,
       'ALL' AS platform, 'ALL' AS site_code, 'ALL' AS game_code,
       '{_REPORT}' AS report_class, '{_REPORT}_1m' AS assignee,
       '1M' AS freq_type, {LEVELS["1M"]} AS level
FROM generate_series(date_trunc('month', TIMESTAMP '{G0}'),
                     date_trunc('month', TIMESTAMP '{L0}' - INTERVAL 1 DAY),
                     INTERVAL 1 MONTH) gs(t)
WHERE CAST(last_day(gs.t) AS TIMESTAMP) >= TIMESTAMP '{G0}'
  AND CAST(last_day(gs.t) AS TIMESTAMP) <= TIMESTAMP '{L0}' - INTERVAL 1 DAY"""
    )
    return "\nUNION ALL\n".join(parts)


@register("timeslice_generator", _oracle(), survey_ids="G1 U1 F2 O1")
def q_timeslice_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    meta = spark.createDataFrame(
        [
            (G0, L0, "ALL", "ALL", "ALL", _REPORT, f"{_REPORT}{sfx}", freq, LEVELS[freq])
            for freq, sfx in (("5min", "_5min"), ("1H", "_1h"), ("1D", "_1d"), ("1M", "_1m"))
        ],
        "gte_time string, lt_time string, platform string, site_code string, "
        "game_code string, report_class string, assignee string, freq_type string, level int",
    )
    meta = meta.withColumn("gte_time", meta.gte_time.cast("timestamp")).withColumn(
        "lt_time", meta.lt_time.cast("timestamp")
    )
    return expand_timeslices(meta)


# ---------------------------------------------------------------- rerun cascade

# Four requests covering the cascade's edge semantics
# (GetRelatedTimeSplit.py:26-84): intra-day flooring/ceiling, a month
# boundary exactly at month start (no carry), a non-aligned month cross
# (carry to the next month), and a sub-unit span (expands to zero 5min
# windows instead of erroring — the reference's empty pd.date_range).
_RERUN_REQS = [
    ("P1", "S1", "ALL", "trans_summary", "2024-01-02 00:10:00", "2024-01-02 03:20:00", 1, 1, 1, 0),
    ("P1", "S1", "ALL", "player_summary", "2024-01-31 22:00:00", "2024-02-01 00:00:00", 0, 1, 1, 1),
    ("P2", "TG", "ALL", "trans_summary", "2024-03-30 23:30:00", "2024-04-01 01:30:00", 0, 0, 1, 1),
    ("P2", "TG", "ALL", "trans_summary", "2024-01-05 10:01:00", "2024-01-05 10:03:00", 1, 1, 0, 0),
]


def _rerun_oracle() -> str:
    vals = ",\n  ".join(
        f"('{p}', '{s}', '{g}', '{rc}', TIMESTAMP '{gte}', TIMESTAMP '{lt}', {f5}, {f1h}, {f1d}, {f1m})"
        for p, s, g, rc, gte, lt, f5, f1h, f1d, f1m in _RERUN_REQS
    )
    fixed = []
    for flag, unit, suffix, freq, level in (
        ('"5min"', "INTERVAL 5 MINUTE", "_5min", "5min", 100),
        ('"1h"', "INTERVAL 1 HOUR", "_1h", "1H", 200),
        ('"1d"', "INTERVAL 1 DAY", "_1d", "1D", 300),
    ):
        trunc = {"_5min": None, "_1h": "hour", "_1d": "day"}[suffix]
        if trunc is None:
            # 5min keeps RAW bounds — the reference does not floor them
            g, l = "r.gte_time", "r.lt_time"
        else:
            g = f"date_trunc('{trunc}', r.gte_time)"
            l = (
                f"CASE WHEN date_trunc('{trunc}', r.lt_time) = r.lt_time THEN r.lt_time "
                f"ELSE date_trunc('{trunc}', r.lt_time) + {unit} END"
            )
        fixed.append(
            f"""SELECT t AS gte_time, t + {unit} AS lt_time,
       platform, site_code, game_code, report_class,
       report_class || '{suffix}' AS assignee, '{freq}' AS freq_type, {level} AS level
FROM (
  SELECT unnest(generate_series({g}, ({l}) - {unit}, {unit})) AS t,
         r.platform, r.site_code, r.game_code, r.report_class
  FROM reqs r
  WHERE r.{flag} = 1 AND ({l}) >= ({g}) + {unit}
)"""
        )
    months = """SELECT t AS gte_time, t + INTERVAL 1 MONTH AS lt_time,
       platform, site_code, game_code, report_class,
       report_class || '_1m' AS assignee, '1M' AS freq_type, 400 AS level
FROM (
  SELECT unnest(generate_series(b.g, date_trunc('month', b.l - INTERVAL 1 DAY), INTERVAL 1 MONTH)) AS t,
         b.g, b.l, b.platform, b.site_code, b.game_code, b.report_class
  FROM (
    SELECT date_trunc('month', r.gte_time) AS g,
           CASE WHEN date_trunc('month', r.lt_time) = r.lt_time
                THEN date_trunc('month', r.lt_time)
                ELSE date_trunc('month', r.lt_time) + INTERVAL 1 MONTH END AS l,
           r.platform, r.site_code, r.game_code, r.report_class
    FROM reqs r WHERE r."1m" = 1
  ) b
  WHERE date_trunc('month', b.l - INTERVAL 1 DAY) >= date_trunc('month', b.g)
)
WHERE CAST(last_day(t) AS TIMESTAMP) >= g
  AND CAST(last_day(t) AS TIMESTAMP) <= l - INTERVAL 1 DAY"""
    body = "\nUNION ALL\n".join(fixed + [months])
    return f"WITH reqs AS (\n  SELECT * FROM (VALUES\n  {vals}\n) AS v(platform, site_code, game_code, report_class, gte_time, lt_time, \"5min\", \"1h\", \"1d\", \"1m\"))\n{body}"


@register("rerun_cascade_expansion", _rerun_oracle(), survey_ids="G3 F2 F10 U1 P9")
def q_rerun_cascade_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tg_reporting_etl_spark.runner.board import rerun_cascade

    reqs = spark.createDataFrame(
        [
            (p, s, g, rc, gte, lt, f5, f1h, f1d, f1m)
            for p, s, g, rc, gte, lt, f5, f1h, f1d, f1m in _RERUN_REQS
        ],
        "platform string, site_code string, game_code string, report_class string, "
        "gte_time string, lt_time string, `5min` int, `1h` int, `1d` int, `1m` int",
    )
    reqs = reqs.withColumn("gte_time", reqs.gte_time.cast("timestamp")).withColumn(
        "lt_time", reqs.lt_time.cast("timestamp")
    )
    return rerun_cascade(reqs)


# ---------------------------------------------------------------- dependency gate

# One day: 24 publishable-or-held 1H tasks + the 1D task above them +
# one hour of 5min tasks (the unconditional pass-through branch).  The
# done board holds all 24 done 1H children but only the 5min children
# of [00:00, 20:00) — hours 20-23 must gate (dep_count 0-11 < 12) while
# the 1D task publishes (24/24 1H done).  SURVEY §2.10 ST4 / A7.
_DEP_DAY = "2024-01-02"
_DEP_DONE_5MIN_LT = "2024-01-02 20:00:00"


def _dep_oracle() -> str:
    day0 = f"TIMESTAMP '{_DEP_DAY} 00:00:00'"
    day1 = f"{day0} + INTERVAL 1 DAY"
    return f"""WITH h_tasks AS (
  SELECT unnest(generate_series({day0}, {day1} - INTERVAL 1 HOUR, INTERVAL 1 HOUR)) AS gte_time
),
done_5 AS (
  SELECT unnest(generate_series({day0}, TIMESTAMP '{_DEP_DONE_5MIN_LT}' - INTERVAL 5 MINUTE,
                                INTERVAL 5 MINUTE)) AS g
),
h_counted AS (
  SELECT h.gte_time, CAST(count(d.g) AS BIGINT) AS dep_count
  FROM h_tasks h LEFT JOIN done_5 d
    ON d.g >= h.gte_time AND d.g + INTERVAL 5 MINUTE <= h.gte_time + INTERVAL 1 HOUR
  GROUP BY 1
)
SELECT gte_time, gte_time + INTERVAL 1 HOUR AS lt_time,
       'trans_summary_1h' AS assignee, '1H' AS freq_type, dep_count,
       CASE WHEN dep_count = 12 THEN 1 ELSE 0 END AS matched
FROM h_counted
UNION ALL
SELECT {day0} AS gte_time, {day1} AS lt_time,
       'trans_summary_1d' AS assignee, '1D' AS freq_type,
       CAST(24 AS BIGINT) AS dep_count, 1 AS matched
UNION ALL
SELECT g AS gte_time, g + INTERVAL 5 MINUTE AS lt_time,
       'trans_summary_5min' AS assignee, '5min' AS freq_type,
       CAST(0 AS BIGINT) AS dep_count, 1 AS matched
FROM (SELECT unnest(generate_series({day0}, {day0} + INTERVAL 55 MINUTE, INTERVAL 5 MINUTE)) AS g)"""


@register("dependency_gate", _dep_oracle(), survey_ids="ST4 A7 P9 U1")
def q_dependency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tg_reporting_etl_spark.runner.board import dependency_check

    day0, day1 = f"{_DEP_DAY} 00:00:00", "2024-01-03 00:00:00"

    def _meta(rows):
        meta = spark.createDataFrame(
            rows,
            "gte_time string, lt_time string, platform string, site_code string, "
            "game_code string, report_class string, assignee string, freq_type string, level int",
        )
        return meta.withColumn("gte_time", meta.gte_time.cast("timestamp")).withColumn(
            "lt_time", meta.lt_time.cast("timestamp")
        )

    fill = ("ALL", "ALL", "ALL", "trans_summary")
    tasks = expand_timeslices(
        _meta(
            [
                (day0, day1, *fill, "trans_summary_1h", "1H", LEVELS["1H"]),
                (day0, day1, *fill, "trans_summary_1d", "1D", LEVELS["1D"]),
                (day0, f"{_DEP_DAY} 01:00:00", *fill, "trans_summary_5min", "5min", LEVELS["5min"]),
            ]
        )
    )
    done = expand_timeslices(
        _meta(
            [
                (day0, _DEP_DONE_5MIN_LT, *fill, "trans_summary_5min", "5min", LEVELS["5min"]),
                (day0, day1, *fill, "trans_summary_1h", "1H", LEVELS["1H"]),
            ]
        )
    ).withColumn("done", F.lit(1))
    out = dependency_check(tasks, done)
    return out.select("gte_time", "lt_time", "assignee", "freq_type", "dep_count", "matched")


# ---------------------------------------------------------------- init seeding

# Init date mid-month so the 1M seed covers the PREVIOUS month and the
# monthly backfill mints done 1D tasks over [month start, init day) —
# init_main.py:8-95.  new_register has no 1M row, so it gets no backfill.
_INIT_DATE = "2024-02-10 00:00:00"
_INIT_REPORTS = [
    ("trans_summary", "trans_summary_5min", "5min", 100),
    ("trans_summary", "trans_summary_1h", "1H", 200),
    ("trans_summary", "trans_summary_1d", "1D", 300),
    ("trans_summary", "trans_summary_1m", "1M", 400),
    ("player_summary", "player_summary_5min", "5min", 100),
    ("player_summary", "player_summary_1h", "1H", 200),
    ("player_summary", "player_summary_1d", "1D", 300),
    ("player_summary", "player_summary_1m", "1M", 400),
    ("new_register_summary", "new_register_summary_1d", "1D", 300),
]


def _init_oracle() -> str:
    reports = ",\n    ".join(
        f"('{rc}', '{a}', '{f}', {lv})" for rc, a, f, lv in _INIT_REPORTS
    )
    return f"""WITH reports AS (
  SELECT * FROM (VALUES
    {reports}
  ) AS v(report_class, assignee, freq_type, level)),
ds AS (
  SELECT * FROM (VALUES
    ('5min', TIMESTAMP '2024-02-10 00:00:00', TIMESTAMP '2024-02-10 00:05:00'),
    ('1H',   TIMESTAMP '2024-02-10 00:00:00', TIMESTAMP '2024-02-10 01:00:00'),
    ('1D',   TIMESTAMP '2024-02-10 00:00:00', TIMESTAMP '2024-02-11 00:00:00'),
    ('1M',   TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-02-01 00:00:00')
  ) AS v(freq_type, gte_time, lt_time)),
seed AS (
  SELECT d.gte_time, d.lt_time, 'ALL' AS platform, 'ALL' AS site_code,
         'ALL' AS game_code, r.report_class, r.assignee, r.freq_type, r.level,
         0 AS done
  FROM reports r LEFT JOIN ds d USING (freq_type)),
backfill AS (
  SELECT t AS gte_time, t + INTERVAL 1 DAY AS lt_time, platform, site_code,
         game_code, report_class, assignee, freq_type, level, 1 AS done
  FROM (
    SELECT unnest(generate_series(m.lt_time, d.gte_time - INTERVAL 1 DAY, INTERVAL 1 DAY)) AS t,
           d.platform, d.site_code, d.game_code, d.report_class, d.assignee,
           d.freq_type, d.level
    FROM seed d
    JOIN (SELECT report_class, lt_time FROM seed WHERE freq_type = '1M') m
      USING (report_class)
    WHERE d.freq_type = '1D' AND m.lt_time != d.gte_time
  ))
SELECT * FROM seed
UNION ALL
SELECT * FROM backfill"""


@register("init_board_seed", _init_oracle(), survey_ids="G4 J6 J8 F11 U1", kind="orch")
def q_init_board_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 init seeding + J8 config enrichment + J6 monthly backfill
    (initialize/init_main.py:8-95) as one deterministic board snapshot."""
    from tg_reporting_etl_spark.runner.board import (
        init_date_structure,
        init_task_list,
        monthly_dep_backfill,
    )

    reports = spark.createDataFrame(
        _INIT_REPORTS, "report_class string, assignee string, freq_type string, level int"
    )
    tasks = init_task_list(
        reports,
        init_date_structure(spark, _INIT_DATE),
        {"platform": "ALL", "site_code": "ALL", "game_code": "ALL"},
    )
    return tasks.unionByName(monthly_dep_backfill(tasks))


# ---------------------------------------------------------------- board scan

# Literal two-board fixture: done rows must drop (T2), the other report
# class must drop (P7 dispatch), rerun rows union in with provenance
# (U1), and the priority order (level, gte_time, rerun-last, assignee)
# is captured as a row_number VALUE so the order-insensitive driver
# compare still verifies the sort (O1).  has_pending carries the O2
# LIMIT-1 probe's answer as a literal column.
_BOARD_ROWS = [
    # (board, platform, report_class, assignee, freq_type, level, gte, lt, done)
    ("task", "P1", "trans_summary", "trans_summary_5min", "5min", 100, "2024-01-02 00:00:00", "2024-01-02 00:05:00", 0),
    ("task", "P1", "trans_summary", "trans_summary_5min", "5min", 100, "2024-01-02 00:05:00", "2024-01-02 00:10:00", 1),
    ("task", "P1", "trans_summary", "trans_summary_5min", "5min", 100, "2024-01-02 00:10:00", "2024-01-02 00:15:00", 0),
    ("task", "P1", "trans_summary", "trans_summary_1h", "1H", 200, "2024-01-02 00:00:00", "2024-01-02 01:00:00", 0),
    ("task", "P1", "trans_summary", "trans_summary_1d", "1D", 300, "2024-01-02 00:00:00", "2024-01-03 00:00:00", 0),
    ("task", "P1", "player_summary", "player_summary_5min", "5min", 100, "2024-01-02 00:00:00", "2024-01-02 00:05:00", 0),
    ("rerun", "P1", "trans_summary", "trans_summary_5min", "5min", 100, "2024-01-02 00:00:00", "2024-01-02 00:05:00", 0),
    ("rerun", "P1", "trans_summary", "trans_summary_1h", "1H", 200, "2024-01-01 23:00:00", "2024-01-02 00:00:00", 0),
    ("rerun", "P1", "trans_summary", "trans_summary_1h", "1H", 200, "2024-01-01 22:00:00", "2024-01-01 23:00:00", 1),
    ("rerun", "P1", "player_summary", "player_summary_1d", "1D", 300, "2024-01-02 00:00:00", "2024-01-03 00:00:00", 0),
]


def _board_scan_oracle() -> str:
    vals = ",\n    ".join(
        f"('{b}', '{p}', '{rc}', '{a}', '{f}', {lv}, TIMESTAMP '{g}', TIMESTAMP '{l}', {dn})"
        for b, p, rc, a, f, lv, g, l, dn in _BOARD_ROWS
    )
    return f"""WITH rows AS (
  SELECT * FROM (VALUES
    {vals}
  ) AS v(board, platform, report_class, assignee, freq_type, level, gte_time, lt_time, done)),
pending AS (
  SELECT platform, report_class, assignee, freq_type, level, gte_time, lt_time,
         done, CASE WHEN board = 'rerun' THEN 1 ELSE 0 END AS is_rerun
  FROM rows
  WHERE done = 0 AND report_class = 'trans_summary')
SELECT *,
       CAST(row_number() OVER (ORDER BY level, gte_time, is_rerun, assignee) AS INT) AS priority,
       (SELECT CASE WHEN count(*) > 0 THEN 1 ELSE 0 END FROM pending) AS has_pending
FROM pending"""


@register("board_scan_priority", _board_scan_oracle(), survey_ids="T2 O1 O2 U1 P7", kind="orch")
def q_board_scan_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 two-board scan with O1 priority order captured as a value and
    the O2 existence probe as a literal column (ExecUtils.py:11-31)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from tg_reporting_etl_spark.runner.board import has_rows, scan_task_board

    frame = spark.createDataFrame(
        _BOARD_ROWS,
        "board string, platform string, report_class string, assignee string, "
        "freq_type string, level int, gte_time string, lt_time string, done int",
    )
    frame = frame.withColumn("gte_time", frame.gte_time.cast("timestamp")).withColumn(
        "lt_time", frame.lt_time.cast("timestamp")
    )
    task_board = frame.filter(frame.board == "task").drop("board")
    rerun_board = frame.filter(frame.board == "rerun").drop("board")
    scanned = scan_task_board(task_board, rerun_board, "trans_summary")
    w = W.orderBy("level", "gte_time", "is_rerun", "assignee")
    return scanned.withColumn("priority", F.row_number().over(w).cast("int")).withColumn(
        "has_pending", F.lit(1 if has_rows(scanned) else 0)
    )


# ---------------------------------------------------------------- rerun journal

# Deterministic journal lifecycle (ScanRerunManually.py:19-25 +
# GetRelatedTimeSplit.py:87-96): submit R1+R2, consume @N1 (both
# applied), resubmit R1 (re-activation) + new R3, consume @N2, resubmit
# R2 and leave it pending.  Final journal: R1/R3 applied @N2, R2
# pending.  The Spark side drives the REAL parquet journal
# (submit/consume against a temp table); the oracle replays the state
# machine generically — a request is applied by the first consume AFTER
# its last submission, else pending.
_RJ_REQS = {
    "R1": ("P1", "S1", "ALL", "trans_summary", "2024-01-02 00:00:00", "2024-01-02 01:00:00", 1, 1, 0, 0),
    "R2": ("P1", "S1", "ALL", "player_summary", "2024-01-03 00:00:00", "2024-01-04 00:00:00", 0, 0, 1, 0),
    "R3": ("P2", "TG", "ALL", "trans_summary", "2024-01-05 00:00:00", "2024-01-05 02:00:00", 0, 1, 0, 0),
}
_RJ_COLS = [
    "platform", "site_code", "game_code", "report_class",
    "gte_time", "lt_time", "5min", "1h", "1d", "1m",
]
_RJ_EVENTS = [  # (seq, kind, payload)
    (1, "submit", ("R1", "R2")),
    (2, "consume", "2024-02-01 00:00:00"),
    (3, "submit", ("R1", "R3")),
    (4, "consume", "2024-02-02 00:00:00"),
    (5, "submit", ("R2",)),
]


def _rerun_journal_oracle() -> str:
    subs = ",\n    ".join(
        f"({seq}, '{p}', '{s}', '{g}', '{rc}', TIMESTAMP '{gte}', TIMESTAMP '{lt}', {f5}, {f1h}, {f1d}, {f1m})"
        for seq, kind, payload in _RJ_EVENTS
        if kind == "submit"
        for p, s, g, rc, gte, lt, f5, f1h, f1d, f1m in (_RJ_REQS[r] for r in payload)
    )
    cons = ",\n    ".join(
        f"({seq}, TIMESTAMP '{payload}')"
        for seq, kind, payload in _RJ_EVENTS
        if kind == "consume"
    )
    return f"""WITH subs AS (
  SELECT * FROM (VALUES
    {subs}
  ) AS v(seq, platform, site_code, game_code, report_class, gte_time, lt_time, "5min", "1h", "1d", "1m")),
cons AS (
  SELECT * FROM (VALUES
    {cons}
  ) AS v(seq, now)),
last_sub AS (
  SELECT platform, site_code, game_code, report_class, gte_time, lt_time,
         "5min", "1h", "1d", "1m", max(seq) AS s
  FROM subs GROUP BY ALL),
applied_by AS (
  SELECT ls.*, (SELECT min(c.seq) FROM cons c WHERE c.seq > ls.s) AS cseq
  FROM last_sub ls)
SELECT platform, site_code, game_code, report_class, gte_time, lt_time,
       "5min", "1h", "1d", "1m",
       CASE WHEN cseq IS NULL THEN 0 ELSE 1 END AS done,
       (SELECT c.now FROM cons c WHERE c.seq = cseq) AS apply_time
FROM applied_by"""


@register("rerun_journal_lifecycle", _rerun_journal_oracle(), survey_ids="ST3 T1 U2 P9", kind="orch")
def q_rerun_journal_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 journal lifecycle against the real parquet journal: pending
    rows consumed exactly once, applied rows re-activated by resubmit,
    pending duplicates no-ops (runner/rerun.py)."""
    import shutil
    import tempfile

    from tg_reporting_etl_spark.runner.rerun import consume_rerun_requests, submit_rerun_requests

    schema = (
        "platform string, site_code string, game_code string, report_class string, "
        "gte_time string, lt_time string, `5min` int, `1h` int, `1d` int, `1m` int"
    )

    def reqs(names):
        # pandas input -> Arrow LocalRelation: a list input parallelizes
        # even a 2-row batch across defaultParallelism (32 tasks on the
        # bench box) and coalesce(1) on that stalls ~4 s in scheduler
        # locality wait; the LocalRelation write is a single fast task
        pdf = pd.DataFrame([_RJ_REQS[n] for n in names], columns=_RJ_COLS)
        df = spark.createDataFrame(pdf, schema)
        return df.withColumn("gte_time", df.gte_time.cast("timestamp")).withColumn(
            "lt_time", df.lt_time.cast("timestamp")
        )

    tmp = tempfile.mkdtemp(prefix="rerun_journal_")
    path = f"{tmp}/journal"
    try:
        for _, kind, payload in _RJ_EVENTS:
            if kind == "submit":
                submit_rerun_requests(spark, path, reqs(payload))
            else:
                # consume snapshots the journal driver-side, so the
                # returned cascade needs no materialization here
                consume_rerun_requests(spark, path, payload)
        pdf = spark.read.parquet(path).toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out_schema = (
        "platform string, site_code string, game_code string, report_class string, "
        "gte_time timestamp, lt_time timestamp, `5min` int, `1h` int, `1d` int, `1m` int, "
        "done int, apply_time timestamp"
    )
    # pandas -> Arrow LocalRelation (a row list would parallelize to 32 tasks)
    return spark.createDataFrame(pdf, out_schema)


# ---------------------------------------------------------------- window sink

# Delete-before-insert round-trip (S2/S3/ST6): append two windows plus a
# second day, dynamic-overwrite window W1 dropping one of its players,
# re-apply the same overwrite (idempotent), and return the final table.
# The oracle computes base EXCEPT overwritten-partitions UNION new rows.
_SINK_BASE = [
    ("P1", "alice", 20240102, 0, 0, 10.0),
    ("P1", "bob", 20240102, 0, 0, 20.0),
    ("P1", "carol", 20240102, 0, 5, 30.0),
    ("P1", "dave", 20240103, 0, 0, 40.0),
]
_SINK_OVERWRITE = [  # replaces partition (20240102, 0, 0): bob gone, alice revised
    ("P1", "alice", 20240102, 0, 0, 11.0),
]


def _sink_oracle() -> str:
    base = ",\n    ".join(
        f"('{p}', '{n}', {d}, {h}, {m}, {a})" for p, n, d, h, m, a in _SINK_BASE
    )
    over = ",\n    ".join(
        f"('{p}', '{n}', {d}, {h}, {m}, {a})" for p, n, d, h, m, a in _SINK_OVERWRITE
    )
    return f"""WITH base AS (
  SELECT * FROM (VALUES
    {base}
  ) AS v(platform, player_name, summary_date, hours, mins, amount)),
over AS (
  SELECT * FROM (VALUES
    {over}
  ) AS v(platform, player_name, summary_date, hours, mins, amount))
SELECT b.platform, b.player_name, CAST(b.summary_date AS INT) AS summary_date,
       CAST(b.hours AS INT) AS hours, CAST(b.mins AS INT) AS mins,
       ROUND(b.amount, 6) + 0.0 AS amount
FROM base b
WHERE NOT EXISTS (SELECT 1 FROM over o
                  WHERE o.summary_date = b.summary_date
                    AND o.hours = b.hours AND o.mins = b.mins)
UNION ALL
SELECT platform, player_name, CAST(summary_date AS INT), CAST(hours AS INT),
       CAST(mins AS INT), ROUND(amount, 6) + 0.0
FROM over"""


@register("window_sink_roundtrip", _sink_oracle(), survey_ids="S2 S3 ST6 P5", kind="orch")
def q_window_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/ST6 delete-before-insert round-trip on a real partitioned
    parquet table: only the overwritten window's partition is replaced,
    untouched windows and days survive, re-applying is a no-op
    (sources/writers.py)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tg_reporting_etl_spark.sources.writers import (
        overwrite_window_partitions,
        write_append,
    )

    schema = (
        "platform string, player_name string, summary_date int, hours int, "
        "mins int, amount double"
    )
    parts = ["summary_date", "hours", "mins"]
    tmp = tempfile.mkdtemp(prefix="window_sink_")
    path = f"{tmp}/table"
    try:
        write_append(spark.createDataFrame(_SINK_BASE, schema), path, parts)
        over = spark.createDataFrame(_SINK_OVERWRITE, schema)
        overwrite_window_partitions(over, path, parts)
        overwrite_window_partitions(over, path, parts)  # idempotent re-run
        rows = spark.read.parquet(path).select(
            "platform", "player_name",
            F.col("summary_date").cast("int").alias("summary_date"),
            F.col("hours").cast("int").alias("hours"),
            F.col("mins").cast("int").alias("mins"),
            (F.round("amount", 6) + 0.0).alias("amount"),
        ).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)
