"""Registry mechanics: driver-witness prioritization and contract shape.

The driver's per-round correctness file caps at ~50 entries and walks
``queries()`` in dict order, so ``all_queries()`` must order queries with
no entry in any committed CORRECTNESS_r*.json first — that ordering is
what converges hard-signal coverage across rounds.
"""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _witnessed() -> set[str]:
    """Mirror of registry._driver_witnessed: only a PASSING entry (full
    hash pass, or a completed rows-only check for no-oracle queries)
    retires a query from the unwitnessed-first queue — a failed hash must
    re-surface for a fresh driver check.  Since round 6 retirement is
    also change-aware: a name whose current query_digest differs from its
    WITNESS_MANIFEST.json entry re-queues (its plan or oracle changed
    after the witness)."""
    seen: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as f:
            for name, rec in json.load(f).items():
                if rec.get("hash_match") is True or (
                    rec.get("err") == "no_oracle"
                    and rec.get("spark_rows") is not None
                ):
                    seen.add(name)
    manifest_path = os.path.join(REPO, "WITNESS_MANIFEST.json")
    if os.path.exists(manifest_path):
        from odni_apache_beam_consumer_spark.plans.registry import (
            QUERIES,
            all_queries,
            query_digest,
        )

        all_queries()
        with open(manifest_path) as f:
            manifest = json.load(f)
        seen = {
            n
            for n in seen
            if n in QUERIES and manifest.get(n) == query_digest(n)
        }
    return seen


def test_unwitnessed_queries_come_first():
    from odni_apache_beam_consumer_spark.plans.registry import all_queries

    names = list(all_queries())
    seen = _witnessed()
    flags = [n in seen for n in names]
    # Once the first witnessed query appears, no unwitnessed may follow.
    if True in flags and False in flags:
        assert flags.index(True) > max(
            i for i, w in enumerate(flags) if not w
        ), "witnessed query ordered before an unwitnessed one"


def test_every_query_has_oracle_or_documented_exemption():
    """Rows-only queries must be a deliberate, short list — anything new
    without an oracle is a gap, not a default."""
    from odni_apache_beam_consumer_spark.plans.registry import all_oracles, all_queries

    no_oracle = set(all_queries()) - set(all_oracles())
    assert no_oracle == set(), (
        f"unexpected rows-only queries: {sorted(no_oracle)} — add a DuckDB "
        "oracle (even sketch queries oracle their CONTRACT, see "
        "approx_distinct_users) or extend this documented exemption list"
    )


def test_backlog_precedes_newer_unwitnessed():
    """Within the unwitnessed block, the round-2 backlog (queries that
    have waited longest for a driver entry) must come before queries
    registered later — otherwise new additions push the backlog past the
    driver's per-round cap forever."""
    from odni_apache_beam_consumer_spark.plans.registry import (
        _R2_BACKLOG,
        all_queries,
    )

    names = list(all_queries())
    seen = _witnessed()
    unwitnessed = [n for n in names if n not in seen]
    backlog_left = [n for n in unwitnessed if n in _R2_BACKLOG]
    if backlog_left:
        last_backlog = max(unwitnessed.index(n) for n in backlog_left)
        first_other = min(
            (unwitnessed.index(n) for n in unwitnessed if n not in _R2_BACKLOG),
            default=len(unwitnessed),
        )
        assert last_backlog < first_other


def test_changed_query_requeues_despite_old_witness():
    """A query whose source or oracle changes after its last passing
    driver witness must drop out of the witnessed set (round-5 verdict
    item 5: four queries changed post-witness and never resurfaced).
    Simulated by perturbing the manifest digest for a witnessed name."""
    from odni_apache_beam_consumer_spark.plans import registry

    witnessed_now = registry._driver_witnessed()
    if not witnessed_now:
        return  # nothing witnessed yet — nothing to check
    victim = sorted(witnessed_now)[0]

    manifest_path = os.path.join(REPO, "WITNESS_MANIFEST.json")
    assert os.path.exists(manifest_path), "WITNESS_MANIFEST.json missing"
    with open(manifest_path) as f:
        manifest = json.load(f)
    assert manifest.get(victim) == registry.query_digest(victim)

    # Perturb the stored digest — equivalent to the query changing.
    orig = registry._witness_manifest
    try:
        registry._witness_manifest = lambda: {**manifest, victim: "0" * 16}
        assert victim not in registry._driver_witnessed(), (
            "digest mismatch did not re-queue the query"
        )
    finally:
        registry._witness_manifest = orig


def test_manifest_covers_all_witnessed_names():
    """Every name with a passing driver entry must have a manifest digest
    (run tools/witness_manifest.py at round start) — a missing entry
    silently re-queues the query forever, burning driver budget."""
    from odni_apache_beam_consumer_spark.plans.registry import (
        QUERIES,
        all_queries,
    )

    all_queries()
    raw_passing: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as f:
            for name, rec in json.load(f).items():
                if rec.get("hash_match") is True or (
                    rec.get("err") == "no_oracle"
                    and rec.get("spark_rows") is not None
                ):
                    raw_passing.add(name)
    with open(os.path.join(REPO, "WITNESS_MANIFEST.json")) as f:
        manifest = json.load(f)
    missing = (raw_passing & set(QUERIES)) - set(manifest)
    assert not missing, (
        f"witnessed names missing a manifest digest: {sorted(missing)}"
        " — run tools/witness_manifest.py"
    )


def test_digest_covers_helper_closure():
    """Round-9 blind spot (verdict item 2): query_digest must move when a
    helper OUTSIDE the query function changes — the r9 PQ-ADC refactor
    rewrote ~100 lines of operators/similarity.py executed by two
    registered queries without shifting either digest.  The digest now
    folds in the transitive helper-source closure, so (a) helper
    functions from operators/* appear in the closure, as do package
    modules a query function imports locally, and (b) an in-memory edit
    to a referenced module-level constant moves the digest."""
    from odni_apache_beam_consumer_spark.plans import llm
    from odni_apache_beam_consumer_spark.plans.registry import (
        QUERIES,
        _closure_parts,
        all_queries,
        query_digest,
    )

    all_queries()

    # (a) structural: helper functions outside the query fn's own module
    # are part of the digested closure.
    parts: dict = {}
    _closure_parts(QUERIES["ann_pq_adc_topk"], set(), parts)
    helper_mods = {k[1] for k in parts if k[0] in ("fn", "mod", "cls")}
    assert "odni_apache_beam_consumer_spark.operators.similarity" in helper_mods, (
        "operators/similarity.py helpers missing from ann_pq_adc_topk's "
        f"digest closure: {sorted(helper_mods)}"
    )
    # Package modules imported INSIDE a query function bind no global,
    # so the closure must follow the function-local imports too.
    for name, module in (
        ("session_window_stream_dual", "sources.replay"),
        ("cdc_stream_dual", "streaming.cdc"),
    ):
        parts = {}
        _closure_parts(QUERIES[name], set(), parts)
        assert ("mod", f"odni_apache_beam_consumer_spark.{module}", "") in parts, (
            f"{module} missing from {name}'s digest closure: {sorted(parts)}"
        )

    # (b) behavioral: perturb a referenced helper constant in-memory and
    # the digest must move (restored afterwards).
    before = query_digest("text_lang_id")
    orig = llm.LANG_MARKERS
    try:
        llm.LANG_MARKERS = {**orig, "__perturbed__": ["zz"]}
        assert query_digest("text_lang_id") != before, (
            "helper-constant edit did not move query_digest"
        )
    finally:
        llm.LANG_MARKERS = orig
    assert query_digest("text_lang_id") == before
