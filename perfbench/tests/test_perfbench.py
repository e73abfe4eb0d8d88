"""The benchmark's own tests: seeded generators, correctness checks that
reject a perturbed output, span self-time arithmetic, and the metric
names ``BENCHMARK.json`` promises.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, gen
from perfbench.spans import blocking_path, covered, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture
def small_sizes(monkeypatch):
    monkeypatch.setitem(
        gen.SIZES, "backfill_checkpointed",
        {"mega": (2_000, 1_500), "background": 3_000},
    )


def test_transcript_digest_is_a_function_of_the_seed(small_sizes):
    def digest(seed):
        return gen.frame_digest(gen.backfill_transcripts(seed))

    assert digest(3) == digest(3)
    assert digest(3) != digest(4)


def test_transcript_size_does_not_depend_on_the_seed(small_sizes):
    for seed in range(5):
        tr = gen.backfill_transcripts(seed)
        assert len(tr) == 6_500
        assert (tr["conv_id"] == "mega00").sum() == 2_000
        assert not tr.duplicated(["conv_id", "turn_idx"]).any()
        picked = gen.sample_convs(tr, seed)
        assert picked["sample_convs"][0] == "mega01"
        assert set(picked["spec_convs"]) <= set(tr["conv_id"])


def test_sample_convs_with_a_single_ordinary_conversation():
    tr = pd.DataFrame({"conv_id": ["mega00"] * 3 + ["mega01"] * 2 + ["conv000000"]})
    picked = gen.sample_convs(tr, 0)
    assert picked == {"sample_convs": ["mega01", "conv000000"],
                      "spec_convs": ["conv000000"]}


def test_curation_digest_and_truth_are_functions_of_the_seed():
    a_docs, a_bench, a_truth = gen.gen_curation(5, 800)
    b_docs, b_bench, b_truth = gen.gen_curation(5, 800)
    c_docs, c_bench, _ = gen.gen_curation(6, 800)
    assert gen.frame_digest(a_docs, a_bench) == gen.frame_digest(b_docs, b_bench)
    assert gen.frame_digest(a_docs, a_bench) != gen.frame_digest(c_docs, c_bench)
    assert a_truth == b_truth
    assert a_docs["doc_id"].is_unique


def test_curation_truth_follows_the_planted_layout():
    docs, bench, truth = gen.gen_curation(2, 2_000)
    text = docs.set_index("doc_id")["text"]
    surv = set(truth["survivors"])
    # exact duplicates: only the first copy of a text can survive
    first = text.groupby(text).apply(lambda s: s.index.min())
    assert surv <= set(first.to_numpy())
    # contaminated texts never survive, junk never survives
    assert not surv & set(text[text.isin(bench["text"])].index)
    assert not surv & set(text[text.str.startswith("!?!?")].index)


def test_curation_layout_keeps_the_recorded_shares():
    n = 8_000
    docs, bench, truth = gen.gen_curation(3, n)
    planted = truth["planted"]
    assert len(docs) == sum(planted.values()) == n
    # one exact copy, one near-duplicate and one junk doc per 40 docs,
    # one contaminated doc per 200 groups of 40, as tools/curation_bench
    assert planted["exact_dup"] == planted["junk"] == n // 40
    # ids follow generation order: plain, clusters and chains, exact
    # copies, junk, German; the survivors among clusters and chains are
    # their leaders
    first_exact = n - planted["exact_dup"] - planted["junk"] - planted["german"]
    leaders = sum(planted["plain"] <= i < first_exact for i in truth["survivors"])
    assert planted["cluster"] + planted["chain"] - leaders == n // 40
    assert truth["contaminated"] == len(bench) == n // 40 // 200
    assert planted["german"] == n // 100


def test_input_cache_key_follows_the_generator_source(tmp_path, monkeypatch):
    before = gen.size_key("curation")
    edited = tmp_path / "gen.py"
    edited.write_text(open(gen.__file__).read() + "\n# edited\n")
    monkeypatch.setattr(gen, "__file__", str(edited))
    assert gen.size_key("curation") != before


def test_inputs_are_cached_per_seed(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.SIZES, "curation", {"docs": 400})
    first = gen.ensure_inputs(str(tmp_path), "curation", 9)
    again = gen.ensure_inputs(str(tmp_path), "curation", 9)
    assert first["generated_s"] > 0 and again["generated_s"] == 0
    assert first["digest"] == again["digest"]
    assert gen.ensure_inputs(str(tmp_path), "curation", 10)["digest"] != first["digest"]


def test_process_tree_holds_children():
    import subprocess

    from perfbench.procstat import tree_cpu_s, tree_pids

    child = subprocess.Popen(["sleep", "5"])
    try:
        assert child.pid in tree_pids(os.getpid())
        assert tree_cpu_s(os.getpid()) > 0
    finally:
        child.kill()
        child.wait()


def test_sampler_times_its_own_cpu():
    import time

    from perfbench.procstat import Sampler

    with Sampler(os.getpid(), interval_s=0.005) as smp:
        time.sleep(0.2)
        smp.window()
    assert smp.cpu_s() > 0


# ------------------------------------------------------------- checks


def _features(n=6):
    return pd.DataFrame({
        "conv_id": ["c1"] * 3 + ["c2"] * (n - 3),
        "turn_idx": list(range(3)) + list(range(n - 3)),
        "text": [f"t{i}" for i in range(n)],
        "tlen_lag1": np.linspace(0.0, 1.0, n),
        "role_lag1": ["user", None, "assistant", "user", "tool", None],
    })


def test_compare_features_accepts_equal_rows_in_any_order():
    a = _features()
    assert checks.compare_features(a.iloc[::-1], a) == []


@pytest.mark.parametrize("perturb", [
    lambda d: d.assign(tlen_lag1=d["tlen_lag1"] + np.r_[0, 0, 1e-6, 0, 0, 0]),
    lambda d: d.assign(role_lag1=["user", "user", "assistant", "user", "tool", None]),
    lambda d: d.drop(columns="tlen_lag1"),
    lambda d: d.iloc[1:],
])
def test_compare_features_rejects_a_perturbed_output(perturb):
    a = _features()
    assert checks.compare_features(perturb(a.copy()), a)


def test_check_rows_rejects_changed_text_or_keys():
    want = {"rows": 10, "key_hash": 7, "text_hash": 9}
    assert checks.check_rows(want, dict(want)) == []
    assert checks.check_rows(want, {**want, "text_hash": 8})
    assert checks.check_rows(want, {**want, "key_hash": 6})
    assert checks.check_rows(want, {**want, "rows": 11})


def test_asof_leak_check_flags_a_future_pick():
    ts = pd.to_datetime(["2024-01-02", "2024-01-05"])
    profile = pd.DataFrame({
        "conv_id": ["c", "c"], "score": [0.1, 0.2],
        "effective_ts": pd.to_datetime(["2024-01-01", "2024-01-04"]),
    })
    config = pd.DataFrame({"model": ["m0"],
                           "effective_ts": pd.to_datetime(["2024-01-01"])})
    out = pd.DataFrame({"conv_id": ["c", "c"], "turn_idx": [0, 1], "ts": ts,
                        "score": [0.1, 0.2], "model": ["m0", "m0"]})
    assert checks.asof_leaks(out, profile, config) == []
    leaked = out.assign(score=[0.2, 0.2])  # row 0 picks an update from 01-04
    assert checks.asof_leaks(leaked, profile, config)
    cfg_future = config.assign(effective_ts=pd.to_datetime(["2024-01-03"]))
    assert checks.asof_leaks(out, profile, cfg_future)


def test_check_survivors_rejects_extra_missing_or_repeated_docs():
    truth = {"survivors": [1, 2, 5]}
    assert checks.check_survivors([5, 1, 2], truth) == []
    assert checks.check_survivors([1, 2], truth)
    assert checks.check_survivors([1, 2, 5, 7], truth)
    assert checks.check_survivors([1, 2, 5, 5], truth)


def test_check_manifest_needs_every_bucket_and_every_row():
    done = {str(b): {"rows": 5} for b in range(4)}
    assert checks.check_manifest({"completed": done}, 4, 20) == []
    assert checks.check_manifest({"completed": done}, 4, 21)
    del done["3"]
    assert checks.check_manifest({"completed": done}, 4, 15)


def test_feeders_follow_shuffle_edges_not_later_reads():
    from perfbench.sparkstats import feeders

    scan = {"stage": 1, "rdds": [3, 2], "from_rdds": [], "input_records": 9}
    skipped = {"stage": 2, "rdds": [3, 2], "from_rdds": [], "input_records": 0}
    sink = {"stage": 3, "rdds": [5, 4], "from_rdds": [3], "input_records": 0}
    reread = {"stage": 4, "rdds": [7, 6], "from_rdds": [], "input_records": 9}
    recs = [scan, skipped, sink, reread]
    assert feeders(recs, [sink]) == [scan, skipped]


# -------------------------------------------------------------- spans


def _span(i, name, start, end, parent):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "run_id": "t"}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "pass", 0.0, 10.0, None),
        _span(1, "plan", 1.0, 4.0, 0),
        _span(2, "stage.a", 3.0, 6.0, 0),      # overlaps "plan"
        _span(3, "collect", 2.0, 3.0, 1),
        _span(4, "late", 9.0, 12.0, 0),        # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3.0)


def test_blocking_path_skips_children_overlapped_by_a_later_sibling():
    spans = [
        _span(0, "pass", 0.0, 10.0, None),
        _span(1, "plan", 0.0, 2.0, 0),
        _span(2, "stage.a", 2.0, 6.0, 0),
        _span(3, "stage.b", 3.0, 9.0, 0),  # runs alongside stage.a, ends last
    ]
    assert sorted(blocking_path(spans, 0)) == [0, 1, 3]
    sequential = [_span(0, "pass", 0.0, 10.0, None),
                  _span(1, "plan", 0.0, 2.0, 0), _span(2, "run", 2.0, 9.5, 0)]
    st = self_times(sequential)
    assert sum(st[i] for i in blocking_path(sequential, 0)) == pytest.approx(10.0)


# ---------------------------------------------------------- contract


def test_benchmark_json_names_every_reported_metric():
    from perfbench.run import END_TO_END
    from perfbench.workloads import LAYER_UNITS, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
