"""Driver-contract sanity: entry() runs, queries/oracles keys line up."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_contract_shapes():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 30
    # every oracle key must have a query
    assert set(oracles) <= set(qs)
    # every query has an oracle (the approximate ANN paths are
    # deterministic, so their oracles replay the same math in SQL)
    assert set(qs) == set(oracles)
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "avg_qty", "avg_disc", "count_order",
    }


def test_rotation_invariants():
    """Round-6 structural fix (VERDICT r5 #2): the registry order is the
    attestation rotation, not a hand-curated list. Invariants:

    1. insertion order == attestation.rotation_order (the driver reads
       insertion order, so this IS the window assignment);
    2. every NEW_OR_CHANGED entry that exists sits inside the 50-slot
       window (new/changed code always gets a driver row this round);
    3. no entry past the window is staler than the rotation period —
       DERIVED from the registry size (r7 task 8): with N queries and 50
       slots everything re-attests every ceil(N/50) rounds, so the bound
       is CURRENT_ROUND - (ceil(N/50) - 1). At 120 queries that is
       CURRENT_ROUND - 2; growth past 150 queries stretches the period to
       4 rounds and the bound moves WITH it — but see invariant 3b, which
       fails loudly when the period itself grows, forcing either window
       widening or query retirement instead of silently longer staleness;
    4. every entry is either in the ledger or flagged NEW_OR_CHANGED —
       a query cannot dodge the window by missing from both."""
    import __spark_entry__ as m
    from udata_datalake_service_spark.attestation import (
        CURRENT_ROUND,
        LAST_DRIVER_ROUND,
        NEW_OR_CHANGED,
        effective_gap,
        rotation_order,
    )

    names = list(m.queries())
    assert names == rotation_order(names)
    window = set(names[:50])
    present_new = NEW_OR_CHANGED & set(names)
    assert present_new <= window, sorted(present_new - window)
    period = -(-len(names) // 50)  # ceil(N/50): full-rotation rounds
    # Staleness counts EFFECTIVE rounds: a frozen round (driver window
    # identical to the previous round's — verified against artifacts by
    # test_frozen_rounds_verified) offered no rotation slot, so it must
    # not count toward the gap. With FROZEN_ROUNDS empty this reduces to
    # the original bound LAST_DRIVER_ROUND >= CURRENT_ROUND - (period-1).
    stale = {
        n: LAST_DRIVER_ROUND.get(n, 0)
        for n in names[50:]
        if effective_gap(LAST_DRIVER_ROUND.get(n, 0), CURRENT_ROUND) > period - 1
    }
    assert not stale, f"past-window entries too stale: {stale}"
    # 3b. the re-attestation period itself is capped. Round-10 decision
    # (VERDICT r9 #3, chosen deliberately rather than stumbled into):
    # cap raised 3 → 4 (registry may grow to 200). Rationale: the
    # staleness bound above is DERIVED from period, so it tightens or
    # relaxes automatically with N; rotation_order still attests
    # oldest-first so the worst case only materializes at N=200; and
    # between driver rows every entry is covered by the sha256 pin gate
    # (test_attested_entries_pinned) + local parity re-runs, so a
    # 4-round driver gap is a latency bound on INDEPENDENT attestation,
    # not an unverified window. Growth past 200 MUST fail here — then
    # the answer is folding redundant singletons (the u456/a234
    # precedent), never quiet staleness.
    assert period <= 4, (
        f"{len(names)} queries need ceil(N/50)={period} rounds per full "
        "re-attestation — retire/fold queries or widen the window"
    )
    unledgered = [
        n for n in names if n not in LAST_DRIVER_ROUND and n not in NEW_OR_CHANGED
    ]
    assert not unledgered, unledgered


def test_round_was_opened():
    """Round-start guard (VERDICT r12 task 2). The r12 failure mode —
    CORRECTNESS_r{CURRENT_ROUND}.json already landed but the ledger
    refresh (tools/round_open.py) never ran, silently freezing the
    rotation — is undetectable from file state alone, because 'round end,
    artifact just landed' and 'next round started stale' look identical
    on disk. The distinguishing signal is BUILDER WORK happening after
    the artifact landed: any commit after the artifact-introducing commit
    that touches source paths, or any dirty source file in the working
    tree, means a new round is underway and the refresh is overdue.

    This test would have failed at round-12 start: CORRECTNESS_r11.json
    existed, CURRENT_ROUND said 11, and the builder's first source edit
    turned the tree dirty."""
    from tools.round_open import builder_work_since_artifact, refresh_due

    if not refresh_due():
        return  # ledger already points past the latest artifact — green

    from udata_datalake_service_spark.attestation import CURRENT_ROUND

    artifact = f"CORRECTNESS_r{CURRENT_ROUND:02d}.json"
    worked_on = builder_work_since_artifact(artifact)
    assert not worked_on, (
        f"round {CURRENT_ROUND}'s driver artifact ({artifact}) has landed but "
        "the ledger refresh has not run — the rotation will freeze exactly "
        "like round 12. Run `bash tools/round_open.sh` BEFORE editing: "
        f"{worked_on[:10]}"
    )


def test_round_guard_would_have_caught_r12():
    """Replay the round-12 failure against real git history: at r12
    start, CURRENT_ROUND said 11 and CORRECTNESS_r11.json's commit was
    already in history — once the r12 builder committed source work, the
    guard's signal (source files touched after the artifact commit) was
    non-empty. The r12 source commits are permanently in history, so
    this asserts the detector fires on the exact state that slipped."""
    from tools.round_open import builder_work_since_artifact

    worked_on = builder_work_since_artifact("CORRECTNESS_r11.json")
    if not worked_on:
        import pytest
        pytest.skip("git history unavailable (shallow clone or no git)")
    assert any(f.startswith("udata_datalake_service_spark/") for f in worked_on)


def test_round_open_rewrite_is_faithful():
    """round_open.py's text rewrite must (a) round-trip the REAL
    attestation.py — rewriting it to its own current round and ledger
    reproduces semantically identical module state — and (b) raise, not
    silently no-op, when an anchor is missing (a silent no-op is exactly
    the r12 freeze)."""
    import os

    import pytest

    from tools.attest_map import last_green_rounds
    from tools.round_open import ATTESTATION, rewrite_attestation
    from udata_datalake_service_spark.attestation import (
        CURRENT_ROUND,
        LAST_DRIVER_ROUND,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(ATTESTATION).read()
    last = last_green_rounds(repo)
    body = "".join(
        f'    "{q}": {last[q]},\n' for q in sorted(LAST_DRIVER_ROUND) if q in last
    )
    out = rewrite_attestation(src, CURRENT_ROUND, body)
    ns: dict = {}
    exec(compile(out, "attestation_rewritten", "exec"), ns)
    assert ns["CURRENT_ROUND"] == CURRENT_ROUND
    assert ns["LAST_DRIVER_ROUND"] == LAST_DRIVER_ROUND
    assert ns["NEW_OR_CHANGED"] == frozenset()  # reset on every open
    with pytest.raises(ValueError):
        rewrite_attestation("x = 1\n", 99, body)


def test_frozen_rounds_verified():
    """FROZEN_ROUNDS may only contain rounds whose driver window provably
    did not advance: the CORRECTNESS key set must equal the previous
    round's, AND at freeze time there must have been past-window entries
    that needed the slot (otherwise a duplicate window is harmless and
    must not be used to stretch the staleness bound)."""
    import json
    import os

    from udata_datalake_service_spark.attestation import FROZEN_ROUNDS

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def keyset(r):
        path = os.path.join(repo, f"CORRECTNESS_r{r:02d}.json")
        assert os.path.exists(path), f"frozen round {r} has no artifact"
        return set(json.load(open(path)))

    for r in sorted(FROZEN_ROUNDS):
        assert keyset(r) == keyset(r - 1), (
            f"round {r} declared frozen but its window differs from "
            f"round {r - 1}'s — remove it from FROZEN_ROUNDS"
        )


def test_attested_entries_pinned():
    """Every entry NOT new/changed this round is pinned as
    sha256(oracle + source): an edit to an already-attested query fails
    here and forces a conscious re-attestation (tools/parity.py at
    sf0.01) followed by `python tools/pin_hashes.py`. Combined with
    test_rotation_invariants this gives the full guarantee: changed code
    is either flagged NEW_OR_CHANGED (and driver-attested this round) or
    caught as pin drift."""
    import json
    import os

    import __spark_entry__ as m  # noqa: F401  (registry import side effects)
    from tools.pin_hashes import compute_pins

    path = os.path.join(os.path.dirname(__file__), "pinned_queries.json")
    pinned = json.load(open(path))
    current = compute_pins()
    drift = {
        k: (pinned.get(k), v) for k, v in current.items() if pinned.get(k) != v
    }
    assert not drift, (
        "pinned queries changed since their last attestation - run "
        f"tools/parity.py on them at sf0.01, then tools/pin_hashes.py: {drift}"
    )
    # and nothing pinned may silently vanish from the registry
    assert set(pinned) <= set(current) | set(
        __import__(
            "udata_datalake_service_spark.attestation", fromlist=["NEW_OR_CHANGED"]
        ).NEW_OR_CHANGED
    ), sorted(set(pinned) - set(current))


def test_ledger_matches_committed_artifacts():
    """ADVICE r6: LAST_DRIVER_ROUND is hand-pasted from tools/attest_map.py
    output; the staleness bound catches too-LOW values but an inflated
    value would let a query dodge re-attestation. Recompute the ledger
    from the committed CORRECTNESS_r*.json artifacts and require exact
    equality — EXCEPT that a recomputed round equal to CURRENT_ROUND is
    expected-newer (the driver writes CORRECTNESS_r{CURRENT_ROUND}.json
    at round END, after the ledger paste; r7/r8 both went red for
    exactly this), so the pasted dict can be neither stale nor
    inflated yet survives the driver's own end-of-round artifact."""
    import os

    from tools.attest_map import last_green_rounds, ledger_diff
    from udata_datalake_service_spark.attestation import (
        CURRENT_ROUND,
        LAST_DRIVER_ROUND,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    recomputed = last_green_rounds(repo)
    prev_green = last_green_rounds(repo, before=CURRENT_ROUND)
    # recomputed may contain queries since renamed/removed from the
    # registry; those are fine to drop from the ledger but a ledger entry
    # must never disagree with the artifacts.
    import __spark_entry__ as m

    names = set(m.queries())
    real_diff = ledger_diff(
        LAST_DRIVER_ROUND, recomputed, names, CURRENT_ROUND, prev_green
    )
    assert not real_diff, (
        "attestation ledger disagrees with committed CORRECTNESS artifacts "
        f"- rerun tools/attest_map.py and paste: {real_diff}"
    )


def test_ledger_survives_end_of_round_artifact(tmp_path):
    """Regression for the r7/r8 recurring red: when the driver drops
    CORRECTNESS_r{CURRENT_ROUND}.json at round end, the ledger (pasted at
    round start) must still validate — and an INFLATED ledger value must
    still fail."""
    import json
    import os

    from tools.attest_map import last_green_rounds, ledger_diff
    from udata_datalake_service_spark.attestation import CURRENT_ROUND

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import shutil
    for f in os.listdir(repo):
        if f.startswith("CORRECTNESS_r") and f.endswith(".json"):
            shutil.copy(os.path.join(repo, f), tmp_path / f)
    # q_old was green in the PREVIOUS round (paste-time state), then the
    # driver's end-of-round artifact bumps it to CURRENT_ROUND
    prev_file = tmp_path / f"CORRECTNESS_r{CURRENT_ROUND - 1:02d}.json"
    prev_data = json.loads(prev_file.read_text()) if prev_file.exists() else {}
    prev_data["q_old"] = {"hash_match": True}
    prev_file.write_text(json.dumps(prev_data))
    # synthesize the driver's end-of-round artifact for CURRENT_ROUND
    synthetic = {
        "q_old": {"hash_match": True},       # was green in an earlier round
        "q_brand_new": {"hash_match": True},  # first-ever attestation
    }
    (tmp_path / f"CORRECTNESS_r{CURRENT_ROUND:02d}.json").write_text(
        json.dumps(synthetic)
    )
    recomputed = last_green_rounds(str(tmp_path))
    prev_green = last_green_rounds(str(tmp_path), before=CURRENT_ROUND)
    assert recomputed["q_old"] == CURRENT_ROUND
    assert prev_green["q_old"] == CURRENT_ROUND - 1
    ledger = {"q_old": CURRENT_ROUND - 1}  # pasted at round start
    names = {"q_old", "q_brand_new"}
    # expected-newer: both the bumped entry and the brand-new one pass
    assert ledger_diff(ledger, recomputed, names, CURRENT_ROUND, prev_green) == {}
    # anti-inflation preserved: a ledger value AHEAD of the artifacts,
    # or a stale mismatch below CURRENT_ROUND, still fails
    assert ledger_diff(
        {"q_old": CURRENT_ROUND + 1}, recomputed, names, CURRENT_ROUND, prev_green
    )
    old = {k: v for k, v in recomputed.items()}
    old["q_old"] = CURRENT_ROUND - 2  # artifacts say r-2, ledger says r-1
    assert ledger_diff(ledger, old, {"q_old"}, CURRENT_ROUND, prev_green)
    # ADVICE r9 tightening: an arbitrarily-stale pasted value no longer
    # rides the end-of-round carve-out — only the exact pre-paste round
    # (CURRENT_ROUND-1 here) is forgiven for a query green this round
    assert ledger_diff(
        {"q_old": CURRENT_ROUND - 3}, recomputed, names, CURRENT_ROUND, prev_green
    ) == {"q_old": (CURRENT_ROUND - 3, CURRENT_ROUND)}


def test_every_query_half_and_oracle_is_registered():
    """No unregistered code in the query catalog: every top-level ``q_*``
    def is reachable by name from a QUERIES value (directly, or through
    the fused query that calls it), and every ``_SQL_*`` constant from an
    ORACLES value. A half that nothing registers is never attested and
    never run, so it is deleted rather than kept."""
    import ast

    import udata_datalake_service_spark.entry_queries as eq

    tree = ast.parse(open(eq.__file__).read())
    refs: dict[str, set[str]] = {}
    roots: dict[str, set[str]] = {"QUERIES": set(), "ORACLES": set()}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
        else:
            continue
        used = {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}
        for name in names:
            refs.setdefault(name, set()).update(used - {name})
            if name in roots and isinstance(node.value, ast.Dict):
                roots[name].update(
                    n.id for v in node.value.values for n in ast.walk(v)
                    if isinstance(n, ast.Name)
                )

    def reachable(start: set[str]) -> set[str]:
        seen: set[str] = set()
        stack = list(start)
        while stack:
            name = stack.pop()
            if name not in seen:
                seen.add(name)
                stack.extend(refs.get(name, ()))
        return seen

    from_queries = reachable(roots["QUERIES"])
    from_oracles = reachable(roots["ORACLES"])
    assert len(roots["QUERIES"]) == len(eq.QUERIES)
    assert len(roots["ORACLES"]) == len(eq.ORACLES)
    orphans = sorted(n for n in refs if n.startswith("q_") and n not in from_queries)
    orphans += sorted(n for n in refs if n.startswith("_SQL_") and n not in from_oracles)
    assert not orphans, f"unregistered query code in entry_queries.py: {orphans}"


def test_tx_text_metrics_refuses_diverged_stopwords(spark, sf_dir, monkeypatch):
    """q_tx_text_metrics counts stopwords with the English language-marker
    hits; if STOPWORDS ever stops being LANG_MARKERS['en'] it must raise
    an explicit error (an ``assert`` would vanish under ``python -O``)."""
    import pytest

    import udata_datalake_service_spark.llm.text as text
    from udata_datalake_service_spark.entry_queries import q_tx_text_metrics

    monkeypatch.setattr(text, "STOPWORDS", text.LANG_MARKERS["en"] + ("a",))
    with pytest.raises(RuntimeError, match="diverged"):
        q_tx_text_metrics(spark, sf_dir)


def test_lake_schema_inference_has_one_site():
    """Every lake read that infers a parquet schema goes through
    ``Lake._read_parquet``, whose memo skips the inference job while a
    table's file set is unchanged. A second ``option("mergeSchema"`` in
    the package would be a read that bypasses the memo."""
    import ast
    import re
    from pathlib import Path

    import udata_datalake_service_spark as pkg
    from udata_datalake_service_spark.sinks import lake

    site = re.compile(r"""option\(\s*["']mergeSchema["']""")
    hits = [
        (p, src[: m.start()].count("\n") + 1)
        for p in sorted(Path(pkg.__file__).parent.rglob("*.py"))
        for src in [p.read_text()]
        for m in site.finditer(src)
    ]
    assert len(hits) == 1, hits
    path, line = hits[0]
    assert path == Path(lake.__file__)
    fn = next(
        n for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "_read_parquet"
    )
    assert fn.lineno <= line <= fn.end_lineno
