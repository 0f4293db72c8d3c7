"""Spans, job groups and the event-log fold on toy jobs with known shape."""

import time

import pytest

from tracing import Tracer, find_event_log, fold_event_log, span_stats


def _count(sc):  # 1 job, 1 stage, 4 tasks
    return sc.parallelize(range(100), 4).count()


def _shuffle(sc):  # 1 job, 2 stages (map + reduce), 4 + 2 tasks
    return sorted(
        sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(lambda a, b: a + b, 2).collect()
    )


def _groups(sc):
    return sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description")


def test_span_sets_and_clears_job_group(spark):
    sc = spark.sparkContext
    tr = Tracer(spark)
    tr.recording = True
    with tr.span("outer"):
        outer = _groups(sc)
        with tr.span("inner"):
            inner = _groups(sc)
        assert _groups(sc) == outer
    assert outer[1] == "outer" and inner[1] == "inner" and outer[0] != inner[0]
    assert _groups(sc) == (None, None)
    with pytest.raises(RuntimeError):
        with tr.span("raises"):
            raise RuntimeError("boom")
    assert _groups(sc) == (None, None)
    assert [s.name for s in tr.spans] == ["inner", "outer", "raises"]


def test_disabled_or_paused_tracer_records_nothing(spark):
    off = Tracer()
    with off.span("x"):
        pass
    tr = Tracer(spark)
    with tr.span("not-recording"):
        pass
    tr.recording = True
    with tr.paused():
        with tr.span("paused"):
            assert _groups(spark.sparkContext) == (None, None)
    assert off.spans == [] and tr.spans == []


def test_fold_counts_jobs_stages_and_time(spark, work):
    sc = spark.sparkContext
    tr = Tracer(spark)
    tr.recording = True
    with tr.span("count"):
        assert _count(sc) == 100
    with tr.span("outer"):
        assert _count(sc) == 100
        with tr.span("shuffle"):
            assert _shuffle(sc) == [(0, 34), (1, 33), (2, 33)]
            time.sleep(0.3)  # driver-side time no job covers
    tr.recording = False
    jobs = fold_event_log(find_event_log(work / "eventlog"))
    by_span = {s.name: s.sid for s in tr.spans}
    tagged = {name: [j for j in jobs.values() if j.group == sid] for name, sid in by_span.items()}
    assert [len(j.stages) for j in tagged["count"]] == [1]
    assert [len(j.stages) for j in tagged["shuffle"]] == [2]
    assert [len(j.stages) for j in tagged["outer"]] == [1]
    assert tagged["shuffle"][0].shuffle_bytes > 0
    assert tagged["count"][0].shuffle_bytes == 0

    stats, totals = span_stats(tr.spans, jobs)
    assert (stats["count"].jobs, stats["shuffle"].jobs, stats["outer"].jobs) == (1, 1, 2)
    for name in ("count", "shuffle", "outer"):
        st = stats[name]
        assert 0.0 <= st.gap_s <= st.s and st.exec_s > 0.0
    assert stats["shuffle"].gap_s >= 0.3
    assert stats["outer"].s >= stats["shuffle"].s
    assert totals == (tagged["shuffle"][0].shuffle_bytes, 0)


def test_reused_shuffle_is_charged_to_the_job_that_ran_it(spark, work):
    sc = spark.sparkContext
    pairs = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(lambda a, b: a + b, 2)
    tr = Tracer(spark)
    tr.recording = True
    with tr.span("first"):
        assert sorted(pairs.collect()) == [(0, 34), (1, 33), (2, 33)]
    with tr.span("reuse"):  # the map stage's shuffle output is reused, its stage skipped
        assert sorted(pairs.collect()) == [(0, 34), (1, 33), (2, 33)]
    tr.recording = False
    jobs = fold_event_log(find_event_log(work / "eventlog"))
    sids = {s.name: s.sid for s in tr.spans}
    (first,) = [j for j in jobs.values() if j.group == sids["first"]]
    (reuse,) = [j for j in jobs.values() if j.group == sids["reuse"]]
    assert len(first.stages) == len(reuse.stages) == 2
    assert first.shuffle_bytes > 0 and reuse.shuffle_bytes == 0
    assert first.exec_ms >= reuse.exec_ms


def test_wrap_and_unwrap_restore_originals(spark):
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)

    class Owner:
        def g(self, x):
            return 2 * x

    obj = Owner()
    tr = Tracer(spark)
    tr.wrap(mod, "f", "mod.f")
    tr.wrap(obj, "g", "Owner.g")
    tr.recording = True
    assert (mod.f(1), obj.g(2)) == (2, 4)
    tr.unwrap_all()
    assert [s.name for s in tr.spans] == ["mod.f", "Owner.g"]
    assert "g" not in vars(obj) and mod.f(1) == 2
