"""Tests of the benchmark itself: span arithmetic, prefix differencing,
the input generators, and a tiny-size smoke run of every workload that
runs its output checks.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def mk(name, start, end, sid, parent=None):
    return spans.Span(name, start, end, sid, parent, f"t{sid}")


def test_self_time_subtracts_union_of_children():
    root = mk("root", 0.0, 10.0, 0)
    a = mk("a", 1.0, 4.0, 1, 0)
    b = mk("b", 3.0, 6.0, 2, 0)      # overlaps a: union is [1, 6]
    c = mk("c", 8.0, 12.0, 3, 0)     # runs past the parent: clipped
    root.children = [a, b, c]
    assert spans.self_time(root) == pytest.approx(10.0 - 5.0 - 2.0)
    assert spans.self_time(a) == pytest.approx(3.0)


def test_self_times_sum_to_root_duration():
    root = mk("op", 0.0, 9.0, 0)
    w = mk("write", 1.0, 5.0, 1, 0)
    inner = mk("expand", 2.0, 4.0, 2, 1)
    r = mk("read", 6.0, 7.0, 3, 0)
    root.children, w.children = [w, r], [inner]
    totals = spans.self_times([root, w, inner, r])
    assert sum(totals.values()) == pytest.approx(root.dur)
    assert totals == pytest.approx(
        {"op": 4.0, "write": 2.0, "expand": 2.0, "read": 1.0})


def test_covered_merges_and_clips():
    assert spans.covered([], 0, 1) == 0
    assert spans.covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == \
        pytest.approx(2.5 + 0.5)


def test_prefix_differences_telescope():
    d = spans.prefix_differences([("a", 1.0), ("b", 3.5), ("c", 4.0)])
    assert d == pytest.approx({"a": 1.0, "b": 2.5, "c": 0.5})
    assert sum(d.values()) == pytest.approx(4.0)


class FakeContext:
    def __init__(self):
        self.tags: list[str] = []

    def addJobTag(self, tag):
        self.tags.append(tag)

    def removeJobTag(self, tag):
        self.tags.remove(tag)


class Target:
    def work(self, x):
        return x + 1


def test_tracer_wraps_nests_tags_and_restores():
    sc = FakeContext()
    tracer = spans.Tracer(sc)
    orig = Target.work
    tracer.wrap(Target, "work", lambda a, kw: f"work.{a[1]}")
    with tracer.span("op"):
        assert Target().work(1) == 2
    tracer.close()
    assert Target.work is orig
    assert sc.tags == []
    names = {s.name: s for s in tracer.spans}
    assert set(names) == {"op", "work.1"}
    assert names["work.1"].parent == names["op"].sid
    assert names["op"].children == [names["work.1"]]
    assert tracer.tags_under("op") == {names["op"].tag,
                                       names["work.1"].tag}


def test_span_on_another_thread_parents_to_open_span():
    import threading
    tracer = spans.Tracer(FakeContext())

    def epoch():
        with tracer.span("epoch"):
            pass

    with tracer.span("round"):
        t = threading.Thread(target=epoch)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    names = {s.name: s for s in tracer.spans}
    assert names["epoch"].parent == names["round"].sid
    assert names["round"].children == [names["epoch"]]


def test_sampler_counts_a_forked_jvm_child_once(monkeypatch):
    me = os.getpid()
    mb = 2**20
    tree = {me: (1, "python3", 1.0, 100 * mb),
            10: (me, "java", 5.0, 1000 * mb),
            11: (10, "python3", 2.0, 60 * mb),       # the worker daemon
            12: (11, "python3", 3.0, 80 * mb),       # a forked worker
            13: (10, "Executor task l", 0.0, 1000 * mb)}  # not yet exec'd
    monkeypatch.setattr(spans, "proc_tree", lambda: tree)
    sampler = spans.TreeSampler()
    assert sampler.sample() == pytest.approx(5.0)
    assert sampler.peak_rss == 1240 * mb
    assert sampler.peak_parts == (1000 * mb, 140 * mb, 2)


def test_intake_rounds_are_seeded_and_same_size():
    a = inputs.intake_rounds(3, 100, 4, seed=5)
    b = inputs.intake_rounds(3, 100, 4, seed=5)
    c = inputs.intake_rounds(3, 100, 4, seed=6)
    assert [t.to_pylist() for t, _ in a] == [t.to_pylist() for t, _ in b]
    assert [t.to_pylist() for t, _ in a] != [t.to_pylist() for t, _ in c]
    for rounds in (a, c):
        assert [t.num_rows for t, _ in rounds] == [100, 100, 100]
        # every round brings exactly 50 never-seen URLs
        seen = set()
        for _, canon in rounds:
            assert len(canon - seen) == 50
            seen |= canon


def test_intake_spellings_canonicalize_to_their_url():
    from roddy_spark.functions.urlkernel import canonicalize_url
    (table, canon), = inputs.intake_rounds(1, 200, 3, seed=1)
    assert {canonicalize_url(u) for u in table.column("raw_url").to_pylist()
            } == canon


def test_crawl_seeds_cover_every_host_once_canonically():
    from roddy_spark.functions.urlkernel import canonicalize_url
    seeds = inputs.crawl_seeds(5, seed=3)
    assert {canonicalize_url(s) for s in seeds} == {
        f"http://h{k}.test/" for k in range(5)}


def test_clean_docs_inject_every_case_in_fixed_numbers():
    for seed in (2, 3):
        d = inputs.clean_docs(300, seed=seed)
        assert d["docs"].num_rows == 300
        assert {k: len(v) for k, v in d["cases"].items()} == {
            "exact": 21, "gibberish": 15, "near": 30, "repetitive": 18}
    assert inputs.clean_docs(50, 2)["docs"].to_pylist() == \
        inputs.clean_docs(50, 2)["docs"].to_pylist()


def run_bench(*args):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=os.path.dirname(HERE), env=env, capture_output=True, text=True,
        timeout=900)


@pytest.mark.parametrize("workload,trace", [
    ("crawl_loop", "0"), ("crawl_loop", "1"), ("intake_stream", "0"),
    ("intake_stream", "1"), ("frontier_level", "0"),
    ("clean_pipeline", "0"), ("clean_pipeline", "1")])
def test_smoke_run_checks_outputs(workload, trace):
    p = run_bench("--workload", workload, "--seed", "1", "--seconds", "1",
                  "--trace", trace, "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = ({"jobs_per_op", "exec_cpu_s_per_op", "py_cpu_s_per_kitem",
             "shuffle_mb_per_op", "traced_op_s_p50"}
            if trace == "1" else
            {"items_per_s", "op_s_p50", "setup_s", "peak_rss_mb"})
    assert set(out["metrics"]) == want
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_text(open(os.path.join(HERE, f)).read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "crawl_loop", "--seed", "1", "--seconds", "1"],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
