"""Self-tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.error
import urllib.parse
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from api_double import TOKEN, SessionsApiDouble  # noqa: E402
from stats import geomean, percentile, tail_percentile  # noqa: E402
from tracing import GROUP_PREFIX, parse_event_log  # noqa: E402


def test_generators_are_deterministic_per_seed():
    for seed in (1, 2):
        assert gen.warehouse_tables(seed, 0.002) == gen.warehouse_tables(seed, 0.002)
        assert gen.corpus(seed, 500) == gen.corpus(seed, 500)
        assert gen.day_sessions(seed, 3, 50) == gen.day_sessions(seed, 3, 50)
        sessions = gen.day_sessions(seed, 3, 50)
        assert gen.session_transcripts(seed, sessions) == \
            gen.session_transcripts(seed, sessions)
        assert gen.dimensions(seed) == gen.dimensions(seed)
    assert gen.warehouse_tables(1, 0.002) != gen.warehouse_tables(2, 0.002)
    assert gen.dimensions(1) != gen.dimensions(2)
    assert gen.corpus(1, 500) != gen.corpus(2, 500)
    assert gen.day_sessions(1, 3, 50) != gen.day_sessions(2, 3, 50)


def test_second_seed_keeps_sizes_and_keys_unique():
    for seed in (1, 2):
        sessions = gen.day_sessions(seed, 0, 300)
        assert len(sessions) == 300
        assert len({s["id"] for s in sessions}) == 300
        assert all(s["start_dt"].startswith(gen.day_iso(0)) for s in sessions)
        wh = gen.warehouse_tables(seed, 0.002)
        assert wh["orders"].num_rows == 3000 and wh["lineitem"].num_rows == 12000
        keys = list(zip(wh["lineitem"]["l_orderkey"].to_pylist(),
                        wh["lineitem"]["l_linenumber"].to_pylist()))
        assert len(set(keys)) == len(keys)


def test_sessions_reference_generated_dimensions():
    dims = gen.dimensions(3)
    ids = {name: {r["id"] for r in rows} for name, rows in dims.items()}
    points = {p["id"] for sc in dims["scorecards"] for c in sc["categories"]
              for p in c["points"]}
    sessions = gen.day_sessions(3, 0, 500)
    for s in sessions:
        assert s["agent_id"] in ids["agents"] and s["group_id"] in ids["groups"]
        assert {t["id"] for t in s["tags"]} <= ids["tags"]
        assert {c["id"] for c in s["categories"]} <= ids["categories"]
        for sc in s["scores"] or []:
            assert {p["scorecard_point_id"] for p in sc["point_scores"]} <= points
    transcripts = gen.session_transcripts(3, sessions)
    assert len(transcripts) == 500 - len(range(0, 500, 7))
    assert all(3 <= len(t["utterances"]) <= 6 for t in transcripts)


def test_corpus_duplicate_shares():
    docs = gen.corpus(7, 5000)
    texts = docs["text"].to_pylist()
    exact = len(texts) - len({t.lower() for t in texts})
    # ~4 % exact copies (some collide with near-duplicates)
    assert 0.02 * 5000 < exact < 0.06 * 5000
    assert docs["n_chars"].to_pylist() == [len(t) for t in texts]


def test_percentile_rule_needs_ten_samples_beyond():
    assert tail_percentile(list(range(19))) == (None, None, 19)
    p, v, n = tail_percentile(list(range(20)))
    assert (p, n) == (50.0, 20) and v == 9
    assert tail_percentile(list(range(100)))[0] == 90.0
    assert tail_percentile(list(range(1000)))[0] == 99.0
    assert tail_percentile(list(range(10_000)))[0] == 99.9
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 50) == 3.0 and percentile(xs, 100) == 5.0
    assert abs(geomean([1.0, 10.0, 100.0]) - 10.0) < 1e-9


def test_event_log_attribution(tmp_path):
    def job(jid, group, t_ms, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": t_ms, "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group}}

    def task(stage, run_ms, ok=True):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}

    events = [job(0, f"{GROUP_PREFIX}1", 1000, [0]),
              {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
              task(0, 5), task(0, 7, ok=False),
              # a streaming query's own group: attributed by time window
              job(1, "stream-run-id", 2500, [1]), task(1, 3),
              job(2, "perfbench-other", 2600, [2]), task(2, 100)]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    got = parse_event_log(str(tmp_path), {1: (0.5, 2.0), 2: (2.0, 3.0)})
    assert got[1]["jobs"] == 1 and got[1]["tasks"] == 2
    assert got[1]["task_failures"] == 1 and got[1]["executor_run_ms"] == 12
    assert got[2]["jobs"] == 1 and got[2]["executor_run_ms"] == 3
    assert got[2]["shuffle_write_bytes"] == 10


def test_api_double_pages_and_auth():
    api = SessionsApiDouble()
    try:
        rows = gen.day_sessions(1, 0, 30)
        api.publish(rows)
        url = (f"{api.endpoint}/sessions?skip=10&limit=10&filters="
               f"{urllib.parse.quote('date_range,2024-06-01,2024-06-01||00:00,23:59')}")
        req = urllib.request.Request(url, headers={"Authorization": f"Bearer {TOKEN}"})
        with urllib.request.urlopen(req, timeout=10) as resp:
            items = json.loads(resp.read())["items"]
        assert [r["id"] for r in items] == [r["id"] for r in rows[10:20]]
        assert api.pages == 1 and api.served_ids == {r["id"] for r in items}
        try:
            urllib.request.urlopen(url, timeout=10)
            raise AssertionError("request without a token was served")
        except urllib.error.HTTPError as e:
            assert e.code == 401
        assert api.errors == 1
    finally:
        api.close()


def test_tracer_patches_every_import_and_restores():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import types

    from etl_ender_turing_spark.plans import catalog
    from etl_ender_turing_spark.sources import readers
    from tracing import Tracer

    groups = []
    sc = types.SimpleNamespace(setJobGroup=lambda group, _desc: groups.append(group))
    orig = readers.read_table
    tracer = Tracer(types.SimpleNamespace(sparkContext=sc))
    tracer.install()
    try:
        assert catalog.read_table is readers.read_table is not orig
        outer = tracer._wrap(lambda: inner(), "outer")
        inner = tracer._wrap(lambda: 7, "inner")
        tracer.begin_op(1, "test")
        assert outer() == 7
        tracer.end_op()
    finally:
        tracer.uninstall()
    assert catalog.read_table is readers.read_table is orig
    assert groups == [f"{GROUP_PREFIX}1", "perfbench-other"]
    (i_id, i_parent, i_op, i_name, _, _), (o_id, o_parent, _, o_name, _, _) = tracer.spans
    assert (i_name, o_name, i_parent, o_parent, i_op) == ("inner", "outer", o_id, None, 1)
    assert tracer.span_calls({1}) == {"inner": 1, "outer": 1}


def test_stop_children_reaps_children_and_orphans():
    import subprocess

    import run

    run._become_subreaper()
    child = subprocess.Popen(["sleep", "60"])
    # the grandchild's parent exits at once, so it is orphaned
    subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
    assert len(run._children()) == 2
    t = time.monotonic()
    run._stop_children(grace_s=0.2)
    assert time.monotonic() - t < 10     # killed, not waited out
    assert run._children() == []
    assert not os.path.exists(f"/proc/{child.pid}")
