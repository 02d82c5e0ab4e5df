"""Bench-harness invariants (no Spark needed): segment restarts must
never split a shared-cache probe family (VERDICT r8 "next" #3 — the
r8 q106 +1.0s "regression" was a session restart landing mid-family
and re-deriving the cached shingle/pair tables)."""

from __future__ import annotations

import bench


def test_segment_breaks_avoid_cache_family():
    breaks = bench.segment_breaks(bench.HEADLINE)
    # families are pairwise-disjoint (ADVICE r14: a probe in two
    # families would make the per-family deferral ambiguous)
    assert sum(len(f) for f in bench.CACHE_FAMILIES) == len(
        set().union(*bench.CACHE_FAMILIES)
    )
    for fam in bench.CACHE_FAMILIES:
        fam_idx = [
            i for i, n in enumerate(bench.HEADLINE) if n in fam
        ]
        assert fam_idx, f"cache family {sorted(fam)[:1]}... missing from HEADLINE"
        # each family's probes are contiguous in HEADLINE (one segment
        # pays that family's session caches once)
        assert fam_idx == list(range(fam_idx[0], fam_idx[-1] + 1))
        # no restart strictly inside the family block
        assert all(not (fam_idx[0] < b <= fam_idx[-1]) for b in breaks)


def test_segment_breaks_synthetic():
    fam = {"f1", "f2", "f3"}
    # family straddles the nominal boundary at index 4: the break must
    # defer to the first post-family probe
    names = ["a", "b", "c", "f1", "f2", "f3", "d", "e"]
    got = bench.segment_breaks(names, segment=4, families=[fam])
    assert got == {6}
    # no family: plain every-N restart
    got = bench.segment_breaks(["a", "b", "c", "d", "e"], segment=2, families=[])
    assert got == {2, 4}
    # ADVICE r14: two DISTINCT families that happen to be adjacent in
    # the probe list must NOT fuse into one deferral block — the break
    # lands at the seam between them
    names = ["a", "b", "f1", "f2", "g1", "g2", "c"]
    got = bench.segment_breaks(names, segment=3, families=[{"f1", "f2"}, {"g1", "g2"}])
    assert got == {4}


def test_verify_all_sweep_covers_registry():
    """VERDICT r9 next #4: the committed all-probe sweep must cover
    EVERY registered probe — bench/verify_all.json predating a probe
    registration (169 vs 171 in r9) hid two probes from the sweep.
    Run bench/verify_all.py after any registry change."""
    import json
    import os

    import __spark_entry__ as entry_mod

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench", "verify_all.json",
    )
    sweep = json.load(open(path))
    registered = entry_mod.queries()
    assert sweep["probes"] == len(registered), (
        f"verify_all.json sweep covers {sweep['probes']} probes but "
        f"{len(registered)} are registered — re-run bench/verify_all.py"
    )
    assert set(sweep["results"]) == set(registered)
    assert sweep["fail"] == 0


def test_stage_meter_counts_new_stages_only(spark):
    """StageMeter (VERDICT r13 #3): the delta after a job reflects
    that job's executor task time; a second delta with no new work is
    zero — stage-id diffing, immune to retention eviction of old
    stages."""
    m = bench.StageMeter(spark)
    m.mark()
    spark.range(0, 2_000_000, 1, 8).selectExpr("avg(id % 97)").collect()
    d = m.delta()
    assert d is not None
    task, cpu = d
    assert task > 0 and cpu > 0
    d2 = m.delta()
    assert d2 == (0.0, 0.0)
