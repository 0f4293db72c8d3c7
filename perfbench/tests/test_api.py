"""The api workload on a small lake: every route's answer equals its DuckDB
restatement, writes read back, and the traced run's wrappers change no
check."""

import api
from harness import Outcome
from tracing import Tracer

ROWS = 3000
SEED = 5


def test_schedule_follows_the_mix():
    st = api.ApiState(None, None, None, SEED, {}, {}, [f"w{i}" for i in range(8)], None,
                      api._zipf_table(SEED, ROWS))
    n = 40
    reqs = api.schedule(st, n / api.RATE)
    counts = {r: sum(q.route == r for q in reqs) for r in api.MIX}
    assert abs(sum(api.MIX.values()) - 1.0) < 1e-9
    assert counts == {r: round(share * n) for r, share in api.MIX.items()}
    assert [q.due for q in reqs] == [i / api.RATE for i in range(n)]
    assert [q.key for q in reqs if q.route in api.WRITES] == ["w0", "w1", "w2", "w3"]
    at = [i for i, q in enumerate(reqs) if q.route in api.WRITES]
    assert min(b - a for a, b in zip(at, at[1:])) >= n // 10  # routes interleave


def test_routes_match_oracle_traced_and_untraced(spark, work):
    for rep, traced in enumerate((False, True)):
        st = api.setup(spark, work / f"api-{rep}", SEED, rows=ROWS)
        tr = Tracer(spark if traced else None)
        for owner, attr, name in api.wrap_targets(st):
            tr.wrap(owner, attr, name)
        outcome = Outcome()
        try:
            api.warm_up(st, tr, outcome)
            tr.recording = True
            res = api.measure(st, 4.0, tr, outcome)
        finally:
            tr.recording = False
            tr.unwrap_all()
        assert outcome.failed == 0, outcome.errors
        assert outcome.attempted == len(api.MIX) + res["n_ops"]
        assert st.verified >= len(api.MIX) - len(api.WRITES)
        assert {s.name for s in tr.spans} >= ({"service.latest_check"} if traced else set())
