"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import Curation, read_table, same_rows, table_hash  # noqa: E402


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def frames() -> dict:
    return gen.generate_frames(7)


# ------------------------------------------------------------ generator


def test_same_seed_same_inputs_other_seed_other_inputs(frames):
    assert gen.content_hash(gen.generate_frames(7)) == gen.content_hash(frames)
    assert gen.content_hash(gen.generate_frames(8)) != gen.content_hash(frames)


def test_ensure_inputs_writes_every_table_once(tmp_path):
    out = gen.ensure_inputs(3, root=str(tmp_path))
    assert sorted(f[: -len(".parquet")] for f in os.listdir(out) if f.endswith(".parquet")) == sorted(gen.TABLES)
    with open(os.path.join(out, "_SUCCESS")) as f:
        assert f.read().strip() == gen.content_hash(gen.generate_frames(3))
    stamp = os.path.getmtime(os.path.join(out, "events.parquet"))
    assert gen.ensure_inputs(3, root=str(tmp_path)) == out  # cached
    assert os.path.getmtime(os.path.join(out, "events.parquet")) == stamp


def test_wallet_and_bet_logs_share_one_calendar_spread_within_the_day(frames):
    days = lambda s: set(pd.to_datetime(s).dt.normalize())  # noqa: E731
    assert days(frames["events"]["ts"]) == days(frames["lineitem"]["l_shipdate"])
    assert pd.to_datetime(frames["lineitem"]["l_shipdate"]).dt.hour.nunique() == 24


def test_last_day_ends_a_month_and_registers_an_active_normal_player(frames):
    last = gen.calendar_day(gen.N_DAYS - 1)
    assert (last + pd.Timedelta(days=1)).day == 1
    reg_day = (last - gen.REG_EPOCH).days
    assert reg_day % 5 != 0  # adapters.testdata.player: custkey % 5 == 0 is a robot
    li = frames["lineitem"]
    on_last = pd.to_datetime(li["l_shipdate"]).dt.normalize() == pd.Timestamp(last)
    assert ((li["l_orderkey"] % 300 == reg_day % 300) & on_last).sum() > 100


# -------------------------------------------------------------- metrics


def test_worker_metric_names_match_benchmark_json(bench):
    assert list(worker.END_TO_END) == [m["name"] for m in bench["end_to_end"]]
    per_layer = layers.metrics(Tracer(), object(), 1, 1.0)
    assert list(per_layer) == [m["name"] for m in bench["per_layer"]]
    assert {k: v["unit"] for k, v in per_layer.items()} == {m["name"]: m["unit"] for m in bench["per_layer"]}


def test_printed_line_carries_every_metric_by_name_and_unit(bench):
    res = {
        "failures": [],
        "attempted": 13,
        "failed": 0,
        "end_to_end": dict.fromkeys(worker.END_TO_END, 1.5),
        "per_layer": layers.metrics(Tracer(), object(), 1, 1.0),
    }
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        line = run.result_line(bench, res, trace)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert [(k, v["unit"]) for k, v in line["metrics"].items()] == [(m["name"], m["unit"]) for m in bench[key]]
    assert run.result_line(bench, {**res, "failures": ["x"], "failed": 1}, 0)["correct"] is False


def test_benchmark_json_is_well_formed(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in bench["end_to_end"]) <= 0.25
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))


# ---------------------------------------------------------- correctness


def test_a_corrupted_report_row_fails_the_comparison():
    want = pd.DataFrame({"summary_date": [19950731, 19950731], "site": ["TG", "UAT"], "amount": [10.5, 3.25]})
    got = want.sample(frac=1.0, random_state=1)  # row order does not matter
    assert same_rows(got, want) and table_hash(got) == table_hash(want)
    bad = got.copy()
    bad.loc[bad.index[0], "amount"] += 0.01
    assert not same_rows(bad, want)
    assert table_hash(bad) != table_hash(want)


def _write(path, df, partition_cols=None):
    if partition_cols:
        pq.write_to_dataset(pa.Table.from_pandas(df, preserve_index=False), path, partition_cols=partition_cols)
    else:
        os.makedirs(path)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(path, "part-0.parquet"))


@pytest.fixture()
def chain_outputs(tmp_path):
    """A small, consistent set of chain outputs: docs 0..9, docs 1 and
    2 are near-dups of doc 0, all survivors sampled."""
    ids = np.arange(10)
    kept_ids = np.array([0, 3, 4, 5, 6, 7, 8, 9])
    tokens = np.full(kept_ids.size, 64)
    base = str(tmp_path)
    _write(os.path.join(base, "pairs"), pd.DataFrame({"doc_a": [0, 0], "doc_b": [1, 2], "jaccard": [0.9, 0.8]}))
    _write(os.path.join(base, "components"), pd.DataFrame({"doc_id": [0, 1, 2], "component_id": [0, 0, 0]}))
    _write(os.path.join(base, "kept"), pd.DataFrame({"doc_id": kept_ids, "source": "src1", "n_tokens": tokens}))
    _write(os.path.join(base, "clean"), pd.DataFrame({"doc_id": kept_ids, "text_clean": "a b", "removed_chars": 0}))
    _write(os.path.join(base, "mixed"), pd.DataFrame({"doc_id": kept_ids, "source": "src1", "n_tokens": tokens}))
    _write(os.path.join(base, "packed"), pd.DataFrame({"seq_id": [0, 1], "n_docs": [4, 4], "n_tokens": [256, 256]}))
    _write(
        os.path.join(base, "shards"),
        pd.DataFrame({"doc_id": kept_ids, "text": "a b", "shard": kept_ids // 4}),
        partition_cols=["shard"],
    )
    assert ids.size < gen.N_DOCS
    cur = Curation(None, "", base)
    cur.base = base
    return cur


def test_consistent_chain_outputs_pass(chain_outputs):
    assert chain_outputs.check() == []


@pytest.mark.parametrize(
    "table, corrupt",
    [
        ("shards", lambda df: df.iloc[1:]),  # a document lost in the shard write
        ("kept", lambda df: pd.concat([df, pd.DataFrame({"doc_id": [1], "source": "src1", "n_tokens": [64]})])),
        ("packed", lambda df: df.assign(n_tokens=[256, 255])),  # a token lost in packing
    ],
)
def test_a_corrupted_chain_row_turns_the_check_red(chain_outputs, table, corrupt):
    path = os.path.join(chain_outputs.base, table)
    df = read_table(path)
    for root, _dirs, files in os.walk(path, topdown=False):
        for f in files:
            os.remove(os.path.join(root, f))
        os.rmdir(root)
    _write(path, corrupt(df), partition_cols=["shard"] if table == "shards" else None)
    assert chain_outputs.check()
