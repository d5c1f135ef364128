"""The benchmark's own tests, at a smoke size.

    python3 -m pytest syncbench/tests -q

The generator and oracle tests need no Spark; the two end-to-end smoke
runs start one Spark session each (about a minute apiece)."""

from __future__ import annotations

import io
import json
import math
import os
import shutil
import subprocess
import sys
from collections import Counter

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402


def _bytes(df) -> bytes:
    table = pa.Table.from_pandas(df, preserve_index=False)
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


def _inputs(seed: int) -> list[bytes]:
    base = gen.sync_base(seed, 500)
    out = [_bytes(base)]
    for cycle in range(3):
        out += [_bytes(b) for b in gen.sync_batches(seed, 500, 20, cycle)]
    out.append(_bytes(gen.corpus(seed, 50)))
    out.append(_bytes(gen.corpus_delta(seed, 0, 50, 5, 5, 50)))
    texts = gen.corpus(seed, 50)["text"]
    deck = gen.probe_deck(seed, 0, lambda g: texts[int(g.integers(0, 50))])
    out.append(json.dumps(deck).encode())
    return out


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(3) == _inputs(3)
    assert _inputs(3) != _inputs(4)


def test_sync_batches_have_a_total_lww_order():
    left, right = gen.sync_batches(5, 2_000, 200, 1)
    lo, hi = gen.T0 + gen.WINDOW_MS, gen.T0 + 2 * gen.WINDOW_MS
    for side in (left, right):
        assert side["id"].is_unique
        assert side["version"].between(lo + 1, hi).all()
    both = left.merge(right, on=["id", "version"])
    assert len(both) > 0, "equal-version ties are planted"
    assert (both["prio_x"] != both["prio_y"]).all()
    assert left["source"].isna().any() and (left["source"] == "R").any()


def _py_lww(rows):
    best = {}
    for r in rows:
        cur = best.get(r[0])
        if cur is None or (r[1], r[3]) > (cur[1], cur[3]):
            best[r[0]] = r
    return best


def test_sync_oracle_matches_a_plain_python_replay():
    base = gen.sync_base(9, 300)
    o = oracles.SyncOracle(base)
    stores = {s: _py_lww(map(tuple, base.itertuples(index=False))) for s in ("L", "R")}
    lo = gen.T0
    for cycle in range(3):
        batches = dict(zip("LR", gen.sync_batches(9, 300, 30, cycle)))
        for s in "LR":
            o.write(s, batches[s])
            stores[s] = _py_lww(list(stores[s].values()) + list(map(tuple, batches[s].itertuples(index=False))))
        hi = lo + gen.WINDOW_MS
        inc = {s: [r for r in stores[s].values() if lo < r[1] <= hi and r[2] != other]
               for s, other in (("L", "R"), ("R", "L"))}
        winners = _py_lww(inc["L"] + inc["R"])
        got = o.cycle(lo, hi)
        assert got["winners"] == len(winners)
        for s in "LR":
            keys = {(r[0], r[1], r[3]) for r in winners.values()}
            assert got[f"losers_{s}"] == sum((r[0], r[1], r[3]) not in keys for r in inc[s])
            stores[s] = _py_lww(list(stores[s].values()) + list(winners.values()))
        lo = hi
    import pandas as pd

    for s in "LR":
        actual = pd.DataFrame(list(stores[s].values()), columns=gen.SYNC_COLUMNS)
        assert o.diff(s, actual) == 0


def test_sync_oracle_catches_a_planted_wrong_winner():
    base = gen.sync_base(2, 200)
    o = oracles.SyncOracle(base)
    left, right = gen.sync_batches(2, 200, 20, 0)
    o.write("L", left)
    o.write("R", right)
    o.cycle(gen.T0, gen.T0 + gen.WINDOW_MS)
    actual = o.con.execute("SELECT * FROM L").df()
    assert o.diff("L", actual) == 0
    # the loser of an equal-version tie put back in place of its winner
    tie = left.merge(right, on=["id", "version"], suffixes=("", "_r")).iloc[0]
    loser = ("L", "prio", "val", "name") if tie["prio"] < tie["prio_r"] else ("R", "prio_r", "val_r", "name_r")
    wrong = actual.copy()
    row = wrong["id"] == tie["id"]
    wrong.loc[row, "prio"] = tie[loser[1]]
    wrong.loc[row, "val"] = tie[loser[2]]
    wrong.loc[row, "name"] = tie[loser[3]]
    assert o.diff("L", wrong) == 2


def _py_bm25(docs, terms, k1=1.2, b=0.75):
    toks = {d: t.split(" ") for d, t in docs}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = Counter(term for t in toks.values() for term in set(t) if term in terms)
    out = {}
    for d, t in toks.items():
        tf = Counter(x for x in t if x in terms)
        if tf:
            s = sum(math.log(1 + (n - df[x] + 0.5) / (df[x] + 0.5)) * c * (k1 + 1)
                    / (c + k1 * (1 - b + b * len(t) / avgdl)) for x, c in tf.items())
            out[d] = (len(tf), math.floor(s * oracles.Q20))
    return out


def test_bm25_oracle_matches_a_plain_python_scorer():
    docs = gen.corpus(1, 60)
    o = oracles.SearchOracle(docs)
    o.upsert(gen.corpus_delta(1, 0, 60, 5, 5, 60))
    live = list(map(tuple, o.frame().itertuples(index=False)))
    want = _py_bm25(live, {"spark", "merge"})
    got = o.bm25(["spark", "merge"])
    assert got.keys() == want.keys()
    assert all(abs(got[d][1] - want[d][1]) <= 1 and got[d][0] == want[d][0] for d in got)


def test_topk_check_catches_a_planted_wrong_hit():
    o = oracles.SearchOracle(gen.corpus(2, 80))
    scores = o.bm25(["window", "table"])
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))
    top = [(d, h, s) for d, (h, s) in ranked[:10]]
    assert oracles.check_topk(top, scores, 10)
    d, (h, s) = ranked[-1]
    assert not oracles.check_topk(top[:9] + [(d, h, s)], scores, 10)
    assert not oracles.check_topk(top[:9] + [(top[9][0], top[9][1], top[9][2] + 5)], scores, 10)
    assert not oracles.check_topk(top[:9], scores, 10)


def test_benchmark_json_declares_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["command"] == ["python3", "syncbench/run.py"] and spec["paths"] == ["syncbench"]


def _run(args, cwd):
    return subprocess.run([sys.executable, "syncbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload,trace", [("sync_delta", 1), ("search_mix", 0)])
def test_smoke_run_prints_declared_metrics(workload, trace, tmp_path):
    out = tmp_path / "trace.json"
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1", "--warm", "0",
              "--trace", str(trace), "--trace-out", str(out)], ROOT)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".syncbench_work"))


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "syncbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "sync_delta", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
