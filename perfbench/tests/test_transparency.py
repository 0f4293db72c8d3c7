"""The traced run's wrappers change no output: one crawl cycle on the same
seed, untraced and traced, passes the same output checks and leaves the
same lake behind."""

import crawl
from harness import Outcome
from tracing import Tracer

ROWS = 3000
SEED = 7


def _lake_state(st):
    checks = sorted(
        tuple(r) for r in st.lake.read_app_table("checks").drop("response_time").collect()
    )
    catalog = sorted(tuple(r) for r in st.lake.read_app_table("catalog").collect())
    registry = sorted(
        (r["parsing_table"], r["csv_detective"], r["url"])
        for r in st.lake.registry().collect()
    )
    tables = {
        name: sorted(tuple(r) for r in st.lake.read_table(name).collect())
        for name, _, _ in registry
    }
    return checks, catalog, registry, tables


def test_traced_cycle_matches_untraced(spark, work):
    results = []
    for rep, traced in enumerate((False, True)):
        st = crawl.setup(spark, work / f"crawl-{rep}", SEED, rows=ROWS)
        tr = Tracer(spark if traced else None)
        for owner, attr, name in crawl.wrap_targets(st):
            tr.wrap(owner, attr, name)
        outcome = Outcome()
        tr.recording = True
        try:
            crawl.run_cycle(st, 1, tr, outcome)
        finally:
            tr.recording = False
            tr.unwrap_all()
        assert outcome.failed == 0, outcome.errors
        assert not vars(st.lake).keys() & {"registry", "write_table", "read_app_table"}
        results.append((outcome.attempted, _lake_state(st), len(tr.spans) > 0))
    (att0, state0, spans0), (att1, state1, spans1) = results
    assert att0 == att1 == 2  # the cycle and its analysis
    assert state0 == state1
    assert (spans0, spans1) == (False, True)
