"""The rotation order is right by construction, not by discipline:
`_VERIFY_FIRST` must equal what scripts/gen_verify_order.py generates
from the AST diff vs the last driver-verified snapshot plus the
CORRECTNESS history, and the change detector itself must see through
transitive helper edits."""

from __future__ import annotations

import subprocess

import pytest


def _git_ok() -> bool:
    try:
        subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, check=True,
            cwd=__file__.rsplit("/tests/", 1)[0],
        )
        return True
    except Exception:
        return False


@pytest.mark.skipif(not _git_ok(), reason="needs the git history")
def test_registry_order_matches_generator():
    """The rotation protocol's invariants, checked against a fresh
    generator run.

    ALWAYS: every changed/never-green query must sit inside the
    driver's 50-entry window of the COMMITTED registry order (the
    soundness invariant — a changed query gets verified the round it
    changed), and the changed set must fit the window at all.

    PRE-VERIFICATION ONLY (while the round recorded in the committed
    block has no CORRECTNESS file yet): the committed order must equal
    the generated one exactly.  After the driver verifies (its
    bookkeeping commit advances the baseline and lands the new
    CORRECTNESS file), staleness ranks legitimately shift, so exact
    equality is only required again after the next regeneration —
    which the next round's first query/helper change forces via the
    ALWAYS clause."""
    import glob
    import os
    import re

    import scripts.gen_verify_order as gvo
    from confluent_kafka_streams_examples_spark.queries import QUERIES

    order, head = gvo.generate_order()
    reg = list(QUERIES)
    assert len(head) <= gvo.WINDOW, (
        f"{len(head)} changed/never-green queries exceed the "
        f"{gvo.WINDOW}-entry window — rotation protocol unsound"
    )
    committed_window = set(reg[: gvo.WINDOW])
    stragglers = [h for h in head if h not in committed_window]
    assert not stragglers, (
        f"changed/never-green queries outside the verification window "
        f"(regenerate + paste the order): {stragglers}"
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(gvo.__file__)))
    qsrc = open(
        os.path.join(repo, "confluent_kafka_streams_examples_spark/queries.py")
    ).read()
    m = re.search(r"gen_verify_order\.py \(round (\d+)\)", qsrc)
    committed_round = int(m.group(1)) if m else 0
    verified = {
        int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    }
    if committed_round in verified:
        return  # post-verification: staleness ranks have moved on
    assert order == reg, (
        "stale _VERIFY_FIRST: rerun scripts/gen_verify_order.py and "
        "paste the generated block into queries.py\n"
        f"first divergence: {next((a, b) for a, b in zip(order, reg) if a != b)}"
    )


def test_closure_digest_sees_transitive_helper_edits(tmp_path):
    """The change detector must flag a query when a helper it calls
    ACROSS modules changes (decorator, body, constant, or class), and
    must not flag it for unrelated edits."""
    import scripts.gen_verify_order as gvo

    helper_v1 = "THRESH = 3\ndef helper(x):\n    return x + THRESH\n"
    helper_v2 = "THRESH = 3\ndef helper(x):\n    return x - THRESH\n"
    helper_v3 = "THRESH = 4\ndef helper(x):\n    return x + THRESH\n"
    helper_v4 = (  # unrelated addition only
        "THRESH = 3\ndef helper(x):\n    return x + THRESH\n"
        "def unrelated():\n    return 0\n"
    )
    # module_rel_path checks the filesystem, so shadow a real module
    # path (operators/dedup.py) with the fake helper source
    main_src = (
        "from confluent_kafka_streams_examples_spark.operators.dedup "
        "import helper\n"
        "def q(spark, sf_dir):\n    return helper(1)\n"
    )

    class FakeSnapshot(gvo.Snapshot):
        def __init__(self, sources):
            super().__init__(None)
            self.sources = sources

        def module(self, rel_path):
            if rel_path not in self._modules:
                src = self.sources.get(rel_path)
                self._modules[rel_path] = (
                    gvo.ModuleIndex(src, rel_path) if src else None
                )
            return self._modules[rel_path]

    helper_rel = "confluent_kafka_streams_examples_spark/operators/dedup.py"
    main_rel = "confluent_kafka_streams_examples_spark/queries_fake.py"

    def digest(helper_src):
        snap = FakeSnapshot({helper_rel: helper_src, main_rel: main_src})
        return snap.closure_digest(main_rel, "q")

    base = digest(helper_v1)
    assert base is not None
    assert digest(helper_v2) != base  # helper body change flags
    assert digest(helper_v3) != base  # referenced constant change flags
    assert digest(helper_v4) == base  # unrelated addition does not


def test_red_row_invalidates_older_greens(tmp_path, monkeypatch):
    """A query green in round N but RED in round N+1 must rank as
    never-green (0) so the rotation forces it into the head even when
    its body is unchanged — the pre-fix code kept rank N."""
    import json

    import scripts.gen_verify_order as gvo

    def write(rnd, rows):
        with open(tmp_path / f"CORRECTNESS_r{rnd:02d}.json", "w") as fh:
            json.dump(rows, fh)

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = {"rows_match": True, "schema_match": True, "hash_match": False}
    write(1, {"regressed": green, "steady": green, "latecomer": red})
    write(2, {"regressed": red, "steady": green, "latecomer": green})
    monkeypatch.setattr(gvo, "REPO", str(tmp_path))

    latest = gvo.latest_green_rounds()
    assert latest["regressed"] == 0, "red check must invalidate older greens"
    assert latest["steady"] == 2
    assert latest["latecomer"] == 2, "later green must supersede an old red"


@pytest.mark.skipif(not _git_ok(), reason="needs the git history")
def test_sentinel_band_stratifies_across_operator_families():
    """The band filling the window after the head opens with one member
    of each operator family that has an unchanged-green member, the
    stalest family first, until the band or the families run out
    (diversity: a family-level regression surfaces within one round,
    at any head size), while within each family the stalest green goes
    first (rotation progress)."""
    import scripts.gen_verify_order as gvo
    from confluent_kafka_streams_examples_spark.queries import QUERIES

    order, head = gvo.generate_order()
    band = order[len(head): gvo.WINDOW]
    tail = order[len(head):]
    tail_fams = {gvo.family(n) for n in tail}
    # the generator's EFFECTIVE rank: greens older than the active salt
    # epoch count as stale-0
    epoch = gvo.salt_epoch(gvo.Snapshot(None).conf_salt(), update=False)
    greens = {
        n: (g if g >= epoch else 0)
        for n, g in gvo.latest_green_rounds().items()
    }
    reg_order = {n: i for i, n in enumerate(QUERIES)}
    # stalest-first family order: a family ranks by its stalest member
    fam_order: list[str] = []
    for n in sorted(tail, key=lambda n: (greens[n], reg_order[n])):
        if gvo.family(n) not in fam_order:
            fam_order.append(gvo.family(n))
    k = min(len(band), len(tail_fams))
    band_fams = {gvo.family(n) for n in band}
    assert len(band_fams) == k, (
        f"families missing from the sentinel band: {tail_fams - band_fams}"
    )
    assert [gvo.family(n) for n in band[:k]] == fam_order[:k]
    # within-family staleness order: a family's band members must be
    # its stalest greens, in order
    for fam in band_fams:
        fam_band = [n for n in band if gvo.family(n) == fam]
        fam_all = sorted(
            (n for n in tail if gvo.family(n) == fam),
            key=lambda n: greens[n],
        )
        assert [greens[n] for n in fam_band] == sorted(
            greens[n] for n in fam_all[: len(fam_band)]
        )


@pytest.mark.skipif(not _git_ok(), reason="needs the git history")
def test_conf_salt_flips_every_query_digest():
    """session.py's get_spark conf block is behavior (timezone,
    broadcast threshold, AQE flags) but is unreachable from any query's
    own AST closure — queries only call load_table.  The generator
    therefore folds get_spark's AST into every digest as a global salt:
    mutating one conf line must flip EVERY query's salted digest while
    leaving every unsalted body digest unchanged (VERDICT r9 #1)."""
    import os

    import scripts.gen_verify_order as gvo

    repo = os.path.dirname(os.path.dirname(os.path.abspath(gvo.__file__)))
    src = open(os.path.join(repo, gvo.SESSION_REL), encoding="utf-8").read()
    needle = 'str(64 * 1024 * 1024)'
    assert needle in src, "conf line moved; update the test needle"
    mutated_src = src.replace(needle, 'str(10 * 1024 * 1024)')

    cur = gvo.Snapshot(None)
    mut = gvo.Snapshot(None)
    # Snapshot.module consults its cache first: planting the mutated
    # session module simulates the conf edit without touching the tree
    mut._modules[gvo.SESSION_REL] = gvo.ModuleIndex(
        mutated_src, gvo.SESSION_REL
    )
    assert mut.conf_salt() != cur.conf_salt()

    locs = gvo.query_locations()
    sample = list(locs.items())[::17] or list(locs.items())
    for name, (rel, fname) in sample:
        assert cur.closure_digest(rel, fname) != mut.closure_digest(
            rel, fname
        ), f"{name}: salted digest did not flip on a conf edit"
        assert cur._closure_digest_unsalted(
            rel, fname
        ) == mut._closure_digest_unsalted(rel, fname), (
            f"{name}: body digest must not depend on the salt"
        )


@pytest.mark.skipif(not _git_ok(), reason="needs the git history")
def test_load_table_edit_salts_instead_of_flipping_heads():
    """load_table is the one helper EVERY query calls: treating an edit
    there as a per-query change floods the head past the 50-entry
    window (protocol abort), so since r12 the closure walk stops at
    load_table and its body is folded into the global salt — an edit
    must flip the salt (epoch rotation) while leaving every query's
    unsalted body digest unchanged."""
    import os

    import scripts.gen_verify_order as gvo

    repo = os.path.dirname(os.path.dirname(os.path.abspath(gvo.__file__)))
    src = open(os.path.join(repo, gvo.SESSION_REL), encoding="utf-8").read()
    needle = 'f"{name}.parquet"'
    assert needle in src, "load_table body moved; update the test needle"
    mutated_src = src.replace(needle, 'f"{name}.renamed.parquet"')

    cur = gvo.Snapshot(None)
    mut = gvo.Snapshot(None)
    mut._modules[gvo.SESSION_REL] = gvo.ModuleIndex(
        mutated_src, gvo.SESSION_REL
    )
    assert mut.conf_salt() != cur.conf_salt(), (
        "a load_table edit must flip the global salt"
    )
    locs = gvo.query_locations()
    sample = list(locs.items())[::17] or list(locs.items())
    for name, (rel, fname) in sample:
        assert cur._closure_digest_unsalted(
            rel, fname
        ) == mut._closure_digest_unsalted(rel, fname), (
            f"{name}: body digest must stop at load_table (salted there)"
        )


@pytest.mark.skipif(not _git_ok(), reason="needs the git history")
def test_verify_salt_file_fresh_at_head():
    """VERIFY_SALT.json must record the WORKTREE's current conf salt —
    a conf edit without regenerating (and committing) the epoch file
    would leave pre-edit greens ranked as verified.  Also pins the
    epoch semantics: greens older than epoch_round rank stale-0."""
    import json

    import scripts.gen_verify_order as gvo

    with open(gvo.SALT_FILE, encoding="utf-8") as fh:
        stored = json.load(fh)
    cur_salt = gvo.Snapshot(None).conf_salt()
    assert stored["salt"] == cur_salt, (
        "VERIFY_SALT.json is stale: session.py's get_spark changed — "
        "rerun scripts/gen_verify_order.py and commit the updated file"
    )
    # epoch semantics (no file IO: exercised via salt_epoch's return)
    assert gvo.salt_epoch(cur_salt, update=False) == stored["epoch_round"]
    # a DIFFERENT salt must map to a FUTURE epoch (> every recorded
    # green round) without updating the file when update=False
    future = gvo.salt_epoch("deadbeef", update=False)
    greens = gvo.latest_green_rounds()
    assert greens and future > max(greens.values())
    assert json.load(open(gvo.SALT_FILE))["salt"] == cur_salt


@pytest.mark.skipif(not _git_ok(), reason="needs the git history")
def test_salt_epoch_resets_rotation_ranks(monkeypatch):
    """When the conf-salt epoch moves past every recorded green (a conf
    change just landed), every green is rotation-stale at rank 0: head
    membership is untouched (body-diff only), but the tail's staleness
    ordering collapses to registration order WITHIN each family — the
    stratified band then rotates the whole registry from scratch over
    the following rounds instead of trusting pre-conf greens."""
    import scripts.gen_verify_order as gvo

    order_before, head_before = gvo.generate_order()
    monkeypatch.setattr(gvo, "salt_epoch", lambda s, update=True: 9999)
    order_after, head_after = gvo.generate_order()

    assert head_after == head_before
    assert set(order_after) == set(order_before)
    # all eff ranks equal -> per-family order must be registration order
    from confluent_kafka_streams_examples_spark.queries import QUERIES

    reg_order = {n: i for i, n in enumerate(QUERIES)}
    tail_after = order_after[len(head_after):]
    last_per_family: dict = {}
    for n in tail_after:
        f = gvo.family(n)
        if f in last_per_family:
            assert reg_order[n] > last_per_family[f], (
                f, n, "family order must be registration order under a "
                "fresh epoch (all greens stale-0)",
            )
        last_per_family[f] = reg_order[n]


@pytest.mark.skipif(not _git_ok(), reason="needs the git history")
def test_epoch_cycle_freshness_live():
    """No pre-epoch green may survive as verified-current past the
    rotation cycle (VERDICT r10 #8): once ceil(N/WINDOW) rounds have
    verified at-or-after the active salt epoch, every query's latest
    green must be >= the epoch — and while the cycle is still running,
    the remaining window capacity must cover every pre-epoch green
    (debt 0), so falling behind fails EARLY, not after the fact."""
    import glob
    import os
    import re

    import scripts.gen_verify_order as gvo
    from confluent_kafka_streams_examples_spark.queries import QUERIES

    epoch = gvo.salt_epoch(gvo.Snapshot(None).conf_salt(), update=False)
    greens = gvo.latest_green_rounds()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(gvo.__file__)))
    verified = {
        int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    }
    violations, debt = gvo.epoch_freshness_violations(
        epoch, greens, verified, len(QUERIES)
    )
    assert not violations, (
        "greens verified under a PRE-epoch Spark conf are passing as "
        f"verified-current after the rotation cycle: {violations}"
    )
    assert debt == 0, (
        f"{debt} pre-epoch greens exceed the remaining window capacity "
        "— the rotation cannot finish the epoch cycle on time"
    )


def test_epoch_cycle_freshness_logic():
    """The pure check itself: a green predating the epoch is flagged
    exactly when the post-epoch rounds could have re-verified the
    registry, and in-cycle debt fires when capacity falls short."""
    import scripts.gen_verify_order as gvo

    greens = {"a": 11, "b": 12, "c": 13, "d": 14}
    # epoch 12, window 2, 4 queries -> cycle = 2 rounds
    # cycle complete (r12, r13 verified): 'a' (green 11) must be flagged
    v, d = gvo.epoch_freshness_violations(12, greens, {11, 12, 13}, 4, window=2)
    assert v == ["a"] and d == 0
    # all greens at/after the epoch: clean
    v, d = gvo.epoch_freshness_violations(11, greens, {11, 12, 13}, 4, window=2)
    assert v == [] and d == 0
    # cycle still running (one post-epoch round): no violation yet, and
    # one remaining round x window 2 covers the single pre-epoch green
    v, d = gvo.epoch_freshness_violations(12, greens, {11, 12}, 4, window=2)
    assert v == [] and d == 0
    # three pre-epoch greens, one round left, window 2: debt of 1
    v, d = gvo.epoch_freshness_violations(
        14, {"a": 11, "b": 12, "c": 13, "d": 14}, {13, 14}, 4, window=2
    )
    assert v == [] and d == 1
    # never-green queries (rank 0) are the head's job, not the epoch's
    v, d = gvo.epoch_freshness_violations(12, {"a": 0, "b": 12}, {12, 13}, 2, window=2)
    assert v == [] and d == 0
